"""Size regimes (``table.REGIMES``): the selection rule, the registry's
closure over the package's call sites, and value-identity of every arm.

The walk forces each arm of each regime through ``table._FORCED`` and runs
a gate that reaches the regime on the sf0.001 fixture; every forced run
must return the rows of the unforced default run. The fixture's documents
gain exact copies and eval-set (part name) texts, so the gates whose
answer depends on duplicates or contamination — the fast-jaccard
certificate, contamination overlap — return non-empty answers there.
"""

import os
import re
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from duckdb_mpp_spark import table
from duckdb_mpp_spark.mpp import MppSession
from duckdb_mpp_spark.operators.lm import lm_fluency_gate_fn
from duckdb_mpp_spark.queries import run_spark_query
from duckdb_mpp_spark.sources import load_table
from tests.test_oracle import SF_DIR, _canon

PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)), "duckdb_mpp_spark")

def values_insert(spark, sf):
    """A VALUES INSERT (NULLs, a NOT NULL column, a TIMESTAMP SORT BY
    column) into a fresh table, read back: ``small_write`` is a write."""
    warehouse = tempfile.mkdtemp(prefix="regimes_wh_")
    try:
        mpp = MppSession(spark, warehouse)
        mpp.sql(
            "CREATE TABLE sw(k INT, v DOUBLE NOT NULL, s TEXT, ts TIMESTAMP, "
            "d DECIMAL(18,4)) PARTITION BY (k) WITH BUCKETS 4 SORT BY (ts)"
        )
        mpp.sql(
            "INSERT INTO sw VALUES (1, 1.5, 'a', TIMESTAMP '2024-01-02 03:04:05', "
            "1.25), (2, -2, NULL, NULL, NULL), (NULL, 0, 'c', "
            "TIMESTAMP '1999-12-31 23:59:59.5', -7), (1, 4, 'd', "
            "TIMESTAMP '2024-01-01 00:00:00', 0)"
        )
        got = mpp.sql("SELECT * FROM sw")
        return spark.createDataFrame(got.collect(), got.schema)
    finally:
        shutil.rmtree(warehouse, ignore_errors=True)


# regime -> (gates that reach it, arms forced alongside so they do). A gate
# is a registry name or a gate function (the LM-fluency gate is not
# registered).
GATES = {
    "sort_shape": (("pipeline_global_shuffle", "dedup_exact"), {}),
    "ann_query_broadcast": (("ann_topk_bruteforce",), {}),
    "contamination_hit_ids": (("text_contamination_overlap",), {}),
    "lm_model_tables": ((lm_fluency_gate_fn,), {}),
    # jaccard_verify_from_docs runs only in _scored_pairs' large arm
    "jaccard_gram_sets": (("dedup_ngram_jaccard",), {"lsh_pairs": "exchange_reuse"}),
    "lsh_pairs": (("dedup_ngram_jaccard",), {}),
    "jaccard_certificate": (("dedup_ngram_jaccard_fast",), {}),
    "incremental_index": (("dedup_incremental",), {}),
    "span_owner_broadcast": (("dedup_substring_spans",), {}),
    "cut_spans_frame": (("dedup_cut_spans",), {}),
    "tfidf_vocab": (("text_tfidf_keywords",), {}),
    "small_write": ((values_insert,), {}),
}

_DEFAULTS: dict = {}


@pytest.fixture(scope="module")
def sf_dir(spark, tmp_path_factory):
    """sf0.001 with extra documents: exact copies of every 50th doc, and
    docs whose text is a part name, alone or in front of their own text."""
    if not os.path.isdir(SF_DIR):
        pytest.skip("testdata not present")
    out = tmp_path_factory.mktemp("regimes_sf")
    for name in os.listdir(SF_DIR):
        if name != "documents.parquet":
            os.symlink(os.path.join(SF_DIR, name), out / name)
    docs = load_table(spark, SF_DIR, "documents")
    parts = load_table(spark, SF_DIR, "part").where("p_partkey % 40 = 0")
    named = docs.join(parts, docs.doc_id == parts.p_partkey)
    extra = [
        docs.where("doc_id % 50 = 1").withColumn("doc_id", F.col("doc_id") + 1_000_000),
        named.withColumn("doc_id", F.col("doc_id") + 2_000_000)
        .withColumn("text", F.col("p_name")),
        named.withColumn("doc_id", F.col("doc_id") + 3_000_000)
        .withColumn("text", F.concat_ws(" ", "p_name", "text")),
    ]
    for df in extra:
        docs = docs.unionByName(df.select(*docs.columns))
    docs.coalesce(1).write.parquet(str(out / "documents.parquet"))
    return str(out)


def _run(spark, gate, sf):
    df = gate(spark, sf) if callable(gate) else run_spark_query(gate, spark, sf)
    return _canon(df.columns, [tuple(r) for r in df.collect()])


@pytest.mark.parametrize(
    "name,arm", [(n, arm) for n, arms in table.REGIMES.items() for arm, _ in arms]
)
def test_forced_arm_matches_default(spark, sf_dir, monkeypatch, name, arm):
    if name not in GATES:
        pytest.fail(f"regime {name!r} has no gate in GATES")
    gates, alongside = GATES[name]
    for gate in gates:
        if gate not in _DEFAULTS:
            _DEFAULTS[gate] = _run(spark, gate, sf_dir)
        with monkeypatch.context() as m:
            for other, other_arm in {**alongside, name: arm}.items():
                m.setitem(table._FORCED, other, other_arm)
            assert _run(spark, gate, sf_dir) == _DEFAULTS[gate], (name, arm, gate)


def test_regime_picks_arm_by_size(monkeypatch):
    sizes = {}
    monkeypatch.setattr(table, "plan_size_bytes", lambda df: sizes["now"])
    monkeypatch.setitem(
        table.REGIMES, "_probe", (("a", 10), ("b", 20), ("c", None))
    )
    for size, arm in [(0, "a"), (9, "a"), (10, "b"), (19, "b"), (20, "c"),
                      (1 << 62, "c"), (None, "c")]:
        sizes["now"] = size
        assert table.regime("_probe", None) == arm, size
    # a forced arm wins over the size
    sizes["now"] = 0
    monkeypatch.setitem(table._FORCED, "_probe", "c")
    assert table.regime("_probe", None) == "c"
    monkeypatch.setitem(table._FORCED, "_probe", "d")
    with pytest.raises(ValueError, match="no arm 'd'"):
        table.regime("_probe", None)
    with pytest.raises(ValueError, match="unknown regime"):
        table.regime("_no_such_regime", None)


def test_regimes_table_shape():
    for name, arms in table.REGIMES.items():
        bounds = [b for _, b in arms]
        assert len(arms) >= 2 and bounds[-1] is None, name
        assert all(isinstance(b, int) for b in bounds[:-1]), name
        assert bounds[:-1] == sorted(set(bounds[:-1])), name
        assert len({a for a, _ in arms}) == len(arms), name


def _package_sources():
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path) as fh:
                    yield os.path.relpath(path, PKG), fh.read()


def test_regime_call_sites_match_registry():
    """Every ``regime("…")`` name in the package is a REGIMES entry and
    every entry has a call site; an arm compared at a call site is one of
    the entry's arms. Plan-shape code never sizes a plan itself."""
    used = set()
    for rel, src in _package_sources():
        used |= set(re.findall(r'\bregime\(\s*"(\w+)"', src))
        for name, arm in re.findall(r'\bregime\(\s*"(\w+)"[^)]*\)\s*==\s*"(\w+)"', src):
            assert arm in [a for a, _ in table.REGIMES.get(name, ())], (rel, name, arm)
        if rel.startswith(("operators", "queries")):
            assert "plan_size_bytes(" not in src, rel
    assert used == set(table.REGIMES)
