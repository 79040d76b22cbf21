"""Hostile-fixture sweep for the SAMPLING / SPLIT / PACKING family
(VERDICT r11 #6) — the operators that certify train/test hygiene, where
a silent wrong answer poisons a training run (the triangles-bug class).

Fixtures a real 100 TB corpus assembly hits:
  * weighted_domain_sample: zero / negative / NaN / >1 weights, NULL
    domains, empty weight map — the contract is "weight w keeps ~w of
    the domain, w<=0-or-NaN keeps NOTHING, w>=1 keeps EVERYTHING, and a
    domain absent from the map gets DEFAULT_WEIGHT";
  * stratified_sample_exact: empty input, strata smaller than k, k=0,
    NULL stratum, single-stratum corpora — exactly-min(k, n_s) per
    stratum with contiguous ranks;
  * sqrt_flatten_sample: single-domain corpus, singleton domains, NULL
    domain — cap = min(n, floor(sqrt(n)*scale)) holds per stratum;
  * sequence_packing: NULL/empty-text docs count zero tokens and NO doc
    is lost (token conservation across bins);
  * chunk_documents: loud rejection of stride>size and stride<=0;
    duplicate doc ids chunk independently per row;
  * hash train/valid/test split: a doc id lands in EXACTLY one split,
    duplicate ids always co-locate (no id straddles two splits), the
    assignment is identical across runs, and the three fractions land
    near 80/10/10;
  * global_shuffle_positions: positions are an exact 0..n-1 permutation
    with duplicate and NULL ids, and the single-task and two-phase
    plans agree row-for-row on unique-id corpora.

Prints one JSON line with per-case verdicts; exit code 1 on any fail.
"""

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from _hostile_common import Harness  # noqa: E402

_h = Harness("sampling/split/packing hostile fixtures")
case = _h.case


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, lang string, text string")


# --- weighted_domain_sample -----------------------------------------------------

@case("weighted_zero_weight_keeps_nothing")
def _(spark):
    from duckdb_mpp_spark.operators.corpus import weighted_domain_sample

    docs = _docs(spark, [(i, "en", f"t {i}") for i in range(200)])
    kept = weighted_domain_sample(docs, weights={"en": 0.0})
    assert kept.count() == 0, "zero weight kept rows"


@case("weighted_negative_weight_keeps_nothing")
def _(spark):
    from duckdb_mpp_spark.operators.corpus import weighted_domain_sample

    docs = _docs(spark, [(i, "en", f"t {i}") for i in range(200)])
    kept = weighted_domain_sample(docs, weights={"en": -0.5})
    assert kept.count() == 0, "negative weight kept rows"


@case("weighted_nan_weight_raises")
def _(spark):
    from duckdb_mpp_spark.operators.corpus import weighted_domain_sample

    docs = _docs(spark, [(i, "en", f"t {i}") for i in range(200)])
    # FOUND r12: Spark orders NaN above every numeric, so u < NaN was
    # TRUE for every row — a NaN weight silently kept the WHOLE domain.
    # The fix validates at call time.
    try:
        weighted_domain_sample(docs, weights={"en": float("nan")})
        raise AssertionError("NaN weight accepted (would keep everything)")
    except ValueError as e:
        assert "NaN" in str(e)


@case("weighted_none_weight_raises")
def _(spark):
    from duckdb_mpp_spark.operators.corpus import weighted_domain_sample

    docs = _docs(spark, [(i, "en", f"t {i}") for i in range(50)])
    # review r12: lit(None) makes the keep filter NULL for every row —
    # a None weight from a failed upstream lookup would silently DROP
    # the whole domain; must raise like NaN
    try:
        weighted_domain_sample(docs, weights={"en": None})
        raise AssertionError("None weight accepted (would drop everything)")
    except ValueError as e:
        assert "None" in str(e)


@case("weighted_ge_one_weight_keeps_everything")
def _(spark):
    from duckdb_mpp_spark.operators.corpus import weighted_domain_sample

    docs = _docs(spark, [(i, "en", f"t {i}") for i in range(200)])
    assert weighted_domain_sample(docs, weights={"en": 1.0}).count() == 200
    assert weighted_domain_sample(docs, weights={"en": 7.5}).count() == 200


@case("weighted_null_domain_gets_default_weight")
def _(spark):
    from duckdb_mpp_spark.operators.corpus import (
        weighted_domain_sample,
    )

    docs = _docs(spark, [(i, None, f"t {i}") for i in range(2000)])
    kept = weighted_domain_sample(docs, weights={"en": 1.0}).count()
    # DEFAULT_WEIGHT = 0.05: expect ~100 of 2000; binomial 6-sigma band
    assert 40 <= kept <= 180, f"NULL-domain keep rate off: {kept}/2000"
    # and an explicit 1.0 default-class check: weights that don't mention
    # the NULL domain must not accidentally keep all of it
    assert kept < 2000


@case("weighted_empty_weight_map_all_default")
def _(spark):
    from duckdb_mpp_spark.operators.corpus import weighted_domain_sample

    docs = _docs(spark, [(i, f"l{i % 3}", f"t {i}") for i in range(3000)])
    kept = weighted_domain_sample(docs, weights={}).count()
    assert 60 <= kept <= 280, f"empty map keep rate off: {kept}/3000"


# --- stratified_sample_exact ------------------------------------------------------

@case("stratified_empty_input")
def _(spark):
    from duckdb_mpp_spark.operators.corpus import stratified_sample_exact

    empty = _docs(spark, []).where("1=0")
    assert stratified_sample_exact(empty, k=5).count() == 0


@case("stratified_stratum_smaller_than_k")
def _(spark):
    from duckdb_mpp_spark.operators.corpus import stratified_sample_exact

    docs = _docs(
        spark,
        [(i, "big", f"t {i}") for i in range(50)]
        + [(100 + i, "tiny", f"t {i}") for i in range(3)],
    )
    out = stratified_sample_exact(docs, k=10)
    by = {r.lang: r for r in out.groupBy("lang").count().collect()}
    assert by["big"]["count"] == 10
    assert by["tiny"]["count"] == 3, "small stratum not fully kept"
    ranks = sorted(r.rank for r in out.where("lang = 'tiny'").collect())
    assert ranks == [1, 2, 3], f"ranks not contiguous: {ranks}"


@case("stratified_null_stratum_is_its_own_group")
def _(spark):
    from duckdb_mpp_spark.operators.corpus import stratified_sample_exact

    docs = _docs(
        spark,
        [(i, None, f"t {i}") for i in range(30)]
        + [(100 + i, "en", f"t {i}") for i in range(30)],
    )
    out = stratified_sample_exact(docs, k=7)
    null_n = out.where("lang IS NULL").count()
    assert null_n == 7, f"NULL stratum sampled {null_n}, want exactly 7"
    assert out.where("lang = 'en'").count() == 7


@case("stratified_k_zero_keeps_nothing")
def _(spark):
    from duckdb_mpp_spark.operators.corpus import stratified_sample_exact

    docs = _docs(spark, [(i, "en", f"t {i}") for i in range(20)])
    assert stratified_sample_exact(docs, k=0).count() == 0


# --- sqrt_flatten_sample ----------------------------------------------------------

@case("sqrt_flatten_single_domain_cap_exact")
def _(spark):
    from duckdb_mpp_spark.operators.corpus import sqrt_flatten_sample

    n, scale = 400, 3
    docs = _docs(spark, [(i, "only", f"t {i}") for i in range(n)])
    out = sqrt_flatten_sample(docs, scale=scale)
    want = min(n, math.floor(math.sqrt(n) * scale))
    got = out.count()
    assert got == want, f"single-domain cap: {got} != {want}"


@case("sqrt_flatten_singleton_and_null_domains")
def _(spark):
    from duckdb_mpp_spark.operators.corpus import sqrt_flatten_sample

    docs = _docs(
        spark,
        [(1, "solo", "t"), (2, None, "t"), (3, None, "t"), (4, None, "t")],
    )
    out = sqrt_flatten_sample(docs, scale=1)
    # solo: n=1, cap=min(1, floor(1*1))=1 -> kept
    assert out.where("lang = 'solo'").count() == 1
    # NULL domain: n=3, cap=floor(sqrt(3))=1 -> exactly one kept (NULL is
    # a real stratum, not dropped, not uncapped)
    assert out.where("lang IS NULL").count() == 1


# --- sequence_packing --------------------------------------------------------------

@case("packing_null_and_empty_text_conserves_docs_and_tokens")
def _(spark):
    from duckdb_mpp_spark.operators.corpus import sequence_packing

    rows = (
        [(i, "en", "w " * 40) for i in range(50)]
        + [(100, "en", None), (101, "en", ""), (102, "en", "   ")]
    )
    docs = _docs(spark, rows)
    out = sequence_packing(docs, n_workers=4, context=64)
    agg = out.groupBy().sum("n_docs", "n_tokens").collect()[0]
    assert agg[0] == 53, f"docs lost in packing: {agg[0]}/53"
    assert agg[1] == 50 * 40, f"token sum drifted: {agg[1]}"


@case("packing_rejects_degenerate_params")
def _(spark):
    from duckdb_mpp_spark.operators.corpus import sequence_packing

    docs = _docs(spark, [(1, "en", "a b c")])
    for kw in ({"context": 0}, {"context": -5}, {"n_workers": 0}):
        try:
            sequence_packing(docs, **kw)
            raise AssertionError(f"degenerate {kw} accepted")
        except ValueError:
            pass


# --- chunk_documents ----------------------------------------------------------------

@case("chunking_rejects_bad_stride_and_handles_dup_ids")
def _(spark):
    from duckdb_mpp_spark.operators.corpus import chunk_documents

    docs = _docs(spark, [(1, "en", "a b c d e f g h")])
    for bad in ({"stride": 0}, {"stride": -1}, {"stride": 9, "size": 4}):
        try:
            chunk_documents(docs, **bad)
            raise AssertionError(f"degenerate {bad} accepted")
        except ValueError:
            pass
    # duplicate ids: each ROW chunks independently; output doubles
    dup = _docs(spark, [(7, "en", "a b c d"), (7, "en", "a b c d")])
    out = chunk_documents(dup, size=2, stride=2)
    assert out.count() == 4, "duplicate-id rows did not chunk per-row"


# --- hash split ------------------------------------------------------------------------

@case("hash_split_partition_and_dup_id_colocation")
def _(spark):
    import pyspark.sql.functions as F

    from duckdb_mpp_spark.operators.curation import train_test_split

    # crafted documents.parquet, including duplicate ids across rows
    import tempfile

    sf_dir = tempfile.mkdtemp(prefix="hostile_split_")
    rows = [(i % 700, f"s{i % 5}", f"text {i} " + "w " * (i % 9))
            for i in range(1400)]
    spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    ).write.parquet(os.path.join(sf_dir, "documents.parquet"))

    agg = train_test_split(spark, sf_dir)
    n_by_split = {r.split: r for r in
                  agg.groupBy("split").sum("n_docs").collect()}
    total = sum(int(r["sum(n_docs)"]) for r in n_by_split.values())
    assert total == 1400, f"docs lost in split: {total}/1400"
    # fractions near 80/10/10 (700 distinct ids, 6-sigma-ish bands)
    tr = int(n_by_split["train"]["sum(n_docs)"])
    assert 0.70 * 1400 <= tr <= 0.90 * 1400, f"train fraction off: {tr}"

    # duplicate ids co-locate: recompute the per-row split tag and check
    # one split per id (the audit a leakage scanner would run)
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    h16 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
    ).cast("int")
    tagged = docs.select(
        "doc_id",
        F.when(h16 < int(0.8 * 65536), "train")
        .when(h16 < int(0.9 * 65536), "valid")
        .otherwise("test").alias("split"),
    )
    straddlers = (
        tagged.groupBy("doc_id")
        .agg(F.countDistinct("split").alias("k"))
        .where("k > 1")
        .count()
    )
    assert straddlers == 0, f"{straddlers} ids straddle splits"
    # determinism: a second evaluation is row-identical
    a = sorted(map(tuple, agg.collect()))
    b = sorted(map(tuple, train_test_split(spark, sf_dir).collect()))
    assert a == b, "split assignment not deterministic across runs"


# --- global shuffle ----------------------------------------------------------------------

def _positions(docs, arm):
    """global_shuffle_positions rows with its ``sort_shape`` regime forced
    to ``arm`` ('single_task' window or 'parallel' two-phase rank)."""
    from duckdb_mpp_spark import table
    from duckdb_mpp_spark.operators.corpus import global_shuffle_positions

    table._FORCED["sort_shape"] = arm
    try:
        return global_shuffle_positions(docs).collect()
    finally:
        del table._FORCED["sort_shape"]


@case("global_shuffle_permutation_with_dup_and_null_ids")
def _(spark):
    rows = [(i % 37, f"t {i}") for i in range(111)] + [(None, "null-doc")] * 3
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for arm in ("single_task", "parallel"):
        pos = sorted(r.pos for r in _positions(docs, arm))
        assert pos == list(range(114)), (
            f"{arm}: positions not an exact permutation"
        )


@case("global_shuffle_paths_agree_on_unique_ids")
def _(spark):
    docs = spark.createDataFrame(
        [(i, f"t {i}") for i in range(500)], "doc_id long, text string"
    )
    single = {r.doc_id: r.pos for r in _positions(docs, "single_task")}
    two = {r.doc_id: r.pos for r in _positions(docs, "parallel")}
    assert single == two, "single-task and two-phase plans disagree"


if __name__ == "__main__":
    _h.main(app_name="hostile-sampling")
