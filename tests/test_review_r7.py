"""Regression tests for the r7 post-green code-review findings.

1. mpp.py — a 'select' inside a comment beside a CTE's relation-list
   comma must not let the main WHERE prune the CTE-fed source (the
   classifier cases are now verdicts of ``test_prune_rule``).
2. dedup band index — now a DistributedTable; see tests/test_band_index.py.
3. streaming — the replay-detection lineage id lives IN the checkpoint
   dir, so a deleted/reset checkpoint mints a new lineage instead of
   silently skipping every new batch under the old maximum.
5. streaming.stream_events passes the nanosAsLong conf state into the
   nanos detector (parity with load_table's loud-failure contract).
6. manifest — stream-map entries idle past STREAM_RETENTION_VERSIONS are
   pruned, bounding snapshot metadata; legacy bare-int entries parse.
7. tmputil.session_tmpdir is THE tempdir recipe (no more module copies).

(4 — the version=0 pin/time-travel split — is tested in test_advice_r7.)
"""

import os
import shutil

import pytest

from duckdb_mpp_spark import manifest
from tests.conftest import rows

SF_DIR = "/root/testdata/sf0.001"


# --- 1. comment beside a CTE's relation-list comma --------------------------

def test_cte_fed_setop_rows_survive_comment_near_comma(mpp):
    """End-to-end: the reproduced wrong-results shape — CTE source listed
    after a block comment in a relation list, consumed by two set-op
    legs with a selective WHERE on leg 1 only."""
    mpp.sql("CREATE TABLE rst(k INT, v INT) PARTITION BY(k) WITH BUCKETS 4")
    mpp.sql("INSERT INTO rst VALUES(1,10),(2,20),(3,30)")
    got = rows(
        mpp.sql(
            "WITH c AS (SELECT d.one AS o, rst.k AS a FROM "
            "(SELECT 1 AS one) d /* select best */, rst) "
            "SELECT a FROM c WHERE a=2 UNION ALL SELECT a FROM c"
        ),
        "a",
    )
    # leg1: {2}; leg2: all three — pruning leg 2's source on a=2 loses rows
    assert [r[0] for r in got] == [1, 2, 2, 3]


# --- 3. lineage identity dies with the checkpoint --------------------------

def test_checkpoint_lineage_stable_then_reset(tmp_path):
    from duckdb_mpp_spark.streaming import _checkpoint_lineage

    ckpt = str(tmp_path / "ckpt")
    a = _checkpoint_lineage(ckpt)
    assert _checkpoint_lineage(ckpt) == a  # stable across restarts
    shutil.rmtree(ckpt)
    b = _checkpoint_lineage(ckpt)
    assert b != a  # reset checkpoint → new identity


def test_reset_checkpoint_does_not_suppress_new_batches(mpp, tmp_path):
    """The review's data-loss scenario: ids restart at 0 after a
    checkpoint reset; under path-keyed lineage every new batch is <= the
    old maximum and silently skipped — UUID lineage re-ingests instead."""
    from duckdb_mpp_spark.streaming import _checkpoint_lineage

    mpp.sql("CREATE TABLE lin(k INT) PARTITION BY(k) WITH BUCKETS 2")
    t = mpp.table("lin")
    spark = t.spark
    ckpt = str(tmp_path / "ckpt")

    def deliver(lineage, batch_id, values):
        applied = t.applied_stream_batch(lineage)
        if applied is not None and batch_id <= applied:
            return False
        t.insert(
            spark.createDataFrame([(v,) for v in values], "k int"),
            stream_batch=(lineage, batch_id),
        )
        return True

    l1 = _checkpoint_lineage(ckpt)
    assert deliver(l1, 0, [1]) and deliver(l1, 500, [2])
    shutil.rmtree(ckpt)  # operator resets the corrupt checkpoint
    l2 = _checkpoint_lineage(ckpt)
    # batch ids restart at 0 — with a fresh lineage they must APPLY
    assert deliver(l2, 0, [3]) is True
    assert [r[0] for r in rows(t.scan(), "k")] == [1, 2, 3]


# --- 5. stream_events passes the nanos conf state --------------------------

def test_stream_events_is_conf_aware(spark, monkeypatch):
    import duckdb_mpp_spark.sources.tables as tables_mod
    from duckdb_mpp_spark.streaming import stream_events

    seen = {}

    def fake(path, nanos_conf_set=False):
        seen["conf"] = nanos_conf_set
        return []

    monkeypatch.setattr(tables_mod, "_nanos_timestamp_cols", fake)
    old = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        stream_events(spark, SF_DIR)
        assert seen["conf"] is True
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
        stream_events(spark, SF_DIR)
        assert seen["conf"] is False
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", old)


# --- 6. stream-map retention ------------------------------------------------

def test_stream_entries_age_out_on_retention_horizon(mpp, monkeypatch):
    monkeypatch.setattr(manifest, "STREAM_RETENTION_VERSIONS", 2)
    mpp.sql("CREATE TABLE ret(k INT) PARTITION BY(k) WITH BUCKETS 2")
    t = mpp.table("ret")
    spark = t.spark

    def ins(vals, stream_batch=None):
        t.insert(
            spark.createDataFrame([(v,) for v in vals], "k int"),
            stream_batch=stream_batch,
        )

    ins([1], stream_batch=("old", 7))
    assert t.applied_stream_batch("old") == 7
    ins([2])  # 1 commit idle — survives (refreshed-at v1, head v2)
    assert t.applied_stream_batch("old") == 7
    ins([3], stream_batch=("fresh", 0))
    assert t.applied_stream_batch("old") == 7  # exactly at horizon
    ins([4])  # 3 commits idle — pruned
    assert t.applied_stream_batch("old") is None
    assert t.applied_stream_batch("fresh") == 0  # refreshed within horizon


def test_stream_entry_parses_legacy_bare_int():
    assert manifest._stream_entry(5) == (5, None)
    assert manifest._stream_entry([5, 9]) == (5, 9)
    assert manifest._stream_entry((5, 9)) == (5, 9)


# --- 7. one tempdir recipe --------------------------------------------------

def test_session_tmpdir_is_the_only_recipe():
    import duckdb_mpp_spark.queries.mpp_layer as ml
    import duckdb_mpp_spark.streaming as st
    from duckdb_mpp_spark.tmputil import session_tmpdir

    assert ml._gate_tmpdir is session_tmpdir
    assert st._gate_tmpdir is session_tmpdir
    d = session_tmpdir("tmputil_test_")
    assert os.path.isdir(d)
