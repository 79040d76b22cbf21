"""N-gram language-model fluency scoring — the CCNet-style quality signal.

``lm_fluency_scores`` scores every document by a bigram language model
trained on a held-out reference slice of the corpus itself: CCNet
("CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
Data", Wenzek et al. 2020) filters Common Crawl by the perplexity of a
KenLM model trained on a curated reference corpus; here the reference
slice is the deterministic md5 hash-split's ``valid`` partition
(:func:`duckdb_mpp_spark.operators.curation.split_tag` — ONE split
definition per engine side, so the model trains on exactly the rows the
split family holds out), a self-contained stand-in a deployment would
swap for its curated corpus via ``ref_filter``.

Exact-arithmetic scoring (no float logs): per scored bigram ``(w1, w2)``,
Stupid Backoff ("Large Language Models in Machine Translation", Brants
et al. 2007) with integer-scaled probabilities —

- seen bigram:   ``(LM_SCALE * c(w1,w2)) div c(w1)``
- backoff:       ``(2 * LM_SCALE * c(w2)) div (5 * total_tokens)``
  (the paper's alpha = 0.4 as the exact rational 2/5)
- OOV:           ``0``

and the document score is the integer mean over its bigrams. Summing
scaled conditional probabilities instead of multiplying them (the
log-perplexity view) keeps every step in 64-bit integer arithmetic —
bit-identical across engines (the tf-idf operator's ``(1e6*N) div df``
move, substrings.py) — while preserving the fluent-vs-gibberish ordering
the filter thresholds on: fluent text draws high-probability bigrams,
OOV-dense or shuffled text draws zeros and backoffs.

Scale shape (100 TB): model tables are token/bigram-keyed aggregates of
the ~10% reference slice (map-side combinable, vocabulary-sized — far
smaller than the corpus); the scored bigram stream joins them on the
word keys, broadcast under the ``lm_model_tables`` size regime and as
key-partitioned shuffle joins past it (a hot function word is bounded
per-reducer by the JOIN's build side being ONE row per word — never a
pair blowup); the final aggregate is per-doc. No corpus-sized broadcast,
no collect, no per-row Python. The bigram builder explodes an index
sequence and reads ``element_at(t, i)`` in codegen — never a per-token
``transform()`` lambda (the ~27x interpreted-lambda trap,
dedup.shingles).

No reference parity: the reference engine has no corpus operators; this
extends the surface per the north-star brief alongside text.py's
heuristic quality score (which is length/punct/stopword shape; this is
distributional fluency — CCNet runs both).
"""

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from duckdb_mpp_spark.operators.curation import duck_split_tag, split_tag
from duckdb_mpp_spark.operators.text import _duck_tokens, tokens
from duckdb_mpp_spark.sources import load_table
from duckdb_mpp_spark.table import regime

LM_SCALE = 1 << 20  # integer probability quantum (the Q_SCALE convention)


def _bigrams(frame: DataFrame, *keep: str) -> DataFrame:
    """(keep..., w1, w2) — one row per adjacent token pair of ``t``.
    Codegen-safe: index-sequence explode + element_at, no lambda."""
    return (
        frame.where(F.size("t") >= 2)
        .select(
            *keep,
            "t",
            F.explode(F.sequence(F.lit(1), F.size("t") - 1)).alias("i"),
        )
        .select(
            *keep,
            F.element_at("t", F.col("i")).alias("w1"),
            F.element_at("t", F.col("i") + 1).alias("w2"),
        )
    )


def lm_fluency_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ref_filter: Column | None = None,
) -> DataFrame:
    """One row per DISTINCT ``id_col`` (duplicate-id rows pool their
    bigrams, the cut_spans convention): ``(doc_id, n_bigrams,
    fluency_q)`` — ``fluency_q`` is the integer-mean Stupid-Backoff
    score over the doc's bigrams (0 for docs with <2 tokens, NULL ids
    kept via null-safe joins). ``ref_filter`` selects the model's
    training rows; default is the hash-split's valid partition."""
    if ref_filter is None:
        ref_filter = split_tag(id_col) == "valid"
    t = docs.select(F.col(id_col), tokens(text_col).alias("t"))
    # the reference slice is multi-consumed (bigram counts + unigram
    # counts) — eager-checkpoint it so the corpus scan + split filter +
    # tokenize runs ONCE, not once per model table (the r8/r9
    # multi-consumer rule, budget_select's `base` move); the slice is
    # ~10% of the corpus under the default split filter, the frame a
    # deployment would persist as its reference corpus anyway. The scored
    # stream and the id list stay scan-rooted single passes (the id list
    # prunes to the id column at the parquet scan).
    ref = t.where(ref_filter).localCheckpoint(eager=True)

    big = _bigrams(ref).groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    uni = (
        ref.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    # total reference tokens = sum of the unigram counts — derived from
    # uni rather than a third pass over ref
    total = uni.agg(
        F.coalesce(F.sum("c1"), F.lit(0)).cast("long").alias("_tot")
    )

    # vocabulary-sized model tables: broadcast, or shuffle joins on the
    # word key (AQE still upgrades genuinely small builds at runtime)
    small = regime("lm_model_tables", docs) == "broadcast"

    def side(frame: DataFrame) -> DataFrame:
        return F.broadcast(frame) if small else frame

    stream = _bigrams(t, id_col)
    scored = (
        stream.join(side(big), ["w1", "w2"], "left")
        .join(
            side(uni.select(F.col("w").alias("w1"), F.col("c1").alias("cw1"))),
            "w1",
            "left",
        )
        .join(
            side(uni.select(F.col("w").alias("w2"), F.col("c1").alias("cw2"))),
            "w2",
            "left",
        )
        .join(F.broadcast(total))
        .select(
            id_col,
            F.expr(
                f"CAST(CASE WHEN coalesce(c2, 0) > 0 AND coalesce(cw1, 0) > 0 "
                f"THEN ({LM_SCALE} * c2) div cw1 "
                f"WHEN coalesce(cw2, 0) > 0 "
                f"THEN (2 * {LM_SCALE} * cw2) div (5 * greatest(_tot, 1)) "
                f"ELSE 0 END AS BIGINT)"
            ).alias("s"),
        )
    )
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"), F.sum("s").alias("_ssum")
    )
    ids = t.select(id_col).distinct()
    # null-safe join-back: md5/equi-join NULL-id drops are the exact bug
    # class ADVICE r12 found in budget_select — one row per id, always
    joined = ids.join(
        agg.withColumnRenamed(id_col, "_id"),
        F.expr(f"{id_col} <=> _id"),
        "left",
    )
    return joined.select(
        id_col,
        F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
        F.coalesce(
            F.expr("_ssum div greatest(n_bigrams, 1)"), F.lit(0)
        ).cast("long").alias("fluency_q"),
    )


def _build_lm_fluency_gate():
    def fn(spark, sf_dir):
        # ordered_result exchange=True (r13): per-doc scores ride the
        # scoring join with no boundary above — barrier form, no
        # range-sampling double pass
        from duckdb_mpp_spark.queries import ordered_result

        docs = load_table(spark, sf_dir, "documents")
        return ordered_result(
            lm_fluency_scores(docs), docs, "doc_id", exchange=True
        )

    oracle = f"""
    WITH toks AS (
      SELECT doc_id, {_duck_tokens()} AS ws FROM documents
    ),
    ref AS (
      SELECT ws FROM toks WHERE {duck_split_tag('doc_id')} = 'valid'
    ),
    rbig AS (
      SELECT ws[i] AS w1, ws[i + 1] AS w2, COUNT(*) AS c2
      FROM ref, LATERAL (SELECT unnest(range(1, len(ws))) AS i) t
      GROUP BY 1, 2
    ),
    runi AS (
      SELECT u.w AS w, COUNT(*) AS c1
      FROM ref, LATERAL (SELECT unnest(ws) AS w) u
      GROUP BY 1
    ),
    rtot AS (SELECT COALESCE(SUM(len(ws)), 0) AS tot FROM ref),
    sb AS (
      SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
      FROM toks, LATERAL (SELECT unnest(range(1, len(ws))) AS i) t
    ),
    scored AS (
      SELECT sb.doc_id,
             CASE WHEN COALESCE(b.c2, 0) > 0 AND COALESCE(u1.c1, 0) > 0
                  THEN ({LM_SCALE} * b.c2) // u1.c1
                  WHEN COALESCE(u2.c1, 0) > 0
                  THEN (2 * {LM_SCALE} * u2.c1) // (5 * GREATEST(r.tot, 1))
                  ELSE 0 END AS s
      FROM sb
      LEFT JOIN rbig b ON b.w1 = sb.w1 AND b.w2 = sb.w2
      LEFT JOIN runi u1 ON u1.w = sb.w1
      LEFT JOIN runi u2 ON u2.w = sb.w2
      CROSS JOIN rtot r
    ),
    agg AS (
      SELECT doc_id, COUNT(*) AS n_bigrams, SUM(s) AS ssum
      FROM scored GROUP BY doc_id
    ),
    ids AS (SELECT DISTINCT doc_id FROM documents)
    SELECT i.doc_id,
           CAST(COALESCE(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(COALESCE(a.ssum // GREATEST(a.n_bigrams, 1), 0) AS BIGINT)
             AS fluency_q
    FROM ids i LEFT JOIN agg a ON i.doc_id IS NOT DISTINCT FROM a.doc_id
    ORDER BY i.doc_id
    """
    # NOT registered as a driver gate in r13: the rotation window is
    # exactly full (3 new gates + 47 due re-checks) — registering now
    # would displace a due gate to 4-rounds-stale. r14 (with the
    # VERDICT-blessed merges freeing slots):
    # `register("text_lm_fluency", Query(spark=fn, oracle=oracle))`.
    # tests/test_lm_fluency.py proves oracle equality meanwhile.
    return fn, oracle


lm_fluency_gate_fn, lm_fluency_oracle_sql = _build_lm_fluency_gate()
