"""Regression tests for the five ADVICE-r6 findings fixed in round 7.

1. sources/tables.py — pyarrow-less nanosecond detection degrades gracefully
   unless nanosAsLong is already active session-wide.
2. colocated.py — ``ident`` really sanitizes the user-supplied name.
3. (CTE prune cases: now verdicts of ``test_prune_rule``.)
4. dml.py — the unique check only rejects duplicate groups the rewrite's
   own new values participate in.
5. table.py — ``snapshot(version=0)`` serves the pin explicitly instead of
   silently un-pinning to a head read.
"""

import pytest

from duckdb_mpp_spark import manifest
from duckdb_mpp_spark.sources.tables import _nanos_timestamp_cols
from duckdb_mpp_spark.table import check_unique_sides
from tests.conftest import rows


# --- 1. nanos detection without pyarrow ------------------------------------

def test_nanos_detection_unreadable_path_degrades_without_conf():
    # detection failure (here: path that pyarrow cannot read) only matters
    # when nanosAsLong is active — otherwise Spark itself refuses ns files
    assert _nanos_timestamp_cols("/nonexistent/x.parquet") == []


def test_nanos_detection_unreadable_path_raises_with_conf():
    with pytest.raises(RuntimeError, match="nanosAsLong"):
        _nanos_timestamp_cols("/nonexistent/x.parquet", nanos_conf_set=True)


# --- 2. colocated ident sanitization ---------------------------------------

def test_colocated_ident_is_sanitized(mpp):
    # odd names are reachable via the python API (the SQL front door only
    # parses bare identifiers)
    t = mpp.create_distributed_table(
        "weird name-t!",
        "k INT, v TEXT",
        partition_column="k",
        buckets=4,
        colocated=True,
    )
    ident = t.ident
    assert all(c.isalnum() or c == "_" for c in ident), ident
    t.ensure_registered()  # must be a valid (quoted or not) identifier
    t.insert(t.spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    got = rows(t.scan(), "k")
    assert got == [(1, "a"), (2, "b")]


# --- 4. the unique check ignores untouched-bucket duplicates ---------------

def _routed(t, *ks):
    """Modified side of ``SET k = <each of ks>``: the new values, routed."""
    return t.route(t.spark.createDataFrame([(k,) for k in ks], "k int"))


def test_update_unaffected_by_preexisting_duplicate_elsewhere(mpp):
    # no declared constraint at insert time, so the on-disk duplicate (7,7)
    # can exist; then exercise the check directly the way a partition-column
    # UPDATE would: modified = the operation's new values routed to their
    # bucket, others = every other post-commit row's value
    mpp.sql("CREATE TABLE gdup(k INT, v TEXT) PARTITION BY(k) WITH BUCKETS 4")
    mpp.sql("INSERT INTO gdup VALUES(1,'a'),(7,'x'),(7,'y'),(9,'z')")
    t = mpp.table("gdup")
    full = t.scan(keep_bucket=True)
    # UPDATE SET k=2 WHERE k=1: the untouched (7,7) pair must not abort
    check_unique_sides(
        t.meta.name, "k",
        modified=_routed(t, 2),
        others=full.where("k <> 1").select("k", "__bucket"),
    )
    # and a modified value colliding with an untouched row still raises
    with pytest.raises(ValueError, match="Duplicate key"):
        check_unique_sides(
            t.meta.name, "k",
            modified=_routed(t, 9),
            others=full.where("k <> 1").select("k", "__bucket"),
        )


def test_update_unaffected_by_survivor_duplicate_in_rewritten_bucket(mpp):
    """ADVICE r7: a pre-existing duplicate whose copies are CARRIED THROUGH
    a rewritten bucket as unmodified survivors must not abort an unrelated
    UPDATE — only duplicate groups the operation's own new values
    participate in may raise."""
    mpp.sql("CREATE TABLE gdup2(k INT, v TEXT) PARTITION BY(k) WITH BUCKETS 4")
    mpp.sql("INSERT INTO gdup2 VALUES(1,'a'),(7,'x'),(7,'y')")
    t = mpp.table("gdup2")
    full = t.scan(keep_bucket=True)
    # UPDATE SET k=2 WHERE v='a': both 7s are survivors (others side), the
    # only modified value is 2 — no abort even though the 7s share the
    # rewritten layout in the real staged files
    check_unique_sides(
        t.meta.name, "k",
        modified=_routed(t, 2),
        others=full.where("v <> 'a'").select("k", "__bucket"),
    )
    # two rows modified TO the same value: the operation creates the
    # duplicate itself — must raise
    with pytest.raises(ValueError, match="Duplicate key"):
        check_unique_sides(
            t.meta.name, "k",
            modified=_routed(t, 2, 2),
            others=full.where("v = 'never'").select("k", "__bucket"),
        )


# --- 5. version=0 base ------------------------------------------------------

def test_snapshot_version_zero_empty_table(mpp):
    mpp.sql("CREATE TABLE pin0(k INT) PARTITION BY(k) WITH BUCKETS 2")
    t = mpp.table("pin0")
    # a DML on the empty table plans from the head read's empty v0
    assert t.snapshot() == (0, {})
    assert mpp.sql("UPDATE pin0 SET k = 2 WHERE k = 1") == 0
    assert mpp.sql("DELETE FROM pin0 WHERE k = 1") == 0
    # user time travel to v0: a clear error, never a silent empty frame
    # (review r7)
    with pytest.raises(ValueError, match="no snapshot v0"):
        t.snapshot(version=0)


def test_snapshot_version_zero_after_commit_conflicts(mpp):
    mpp.sql("CREATE TABLE pin1(k INT) PARTITION BY(k) WITH BUCKETS 2")
    t = mpp.table("pin1")
    base, files = t.snapshot()  # a rewrite's base: v0
    assert base == 0
    mpp.sql("INSERT INTO pin1 VALUES(1),(2)")  # the head moves past it
    # a rewrite based on the stale v0 fails like a lost commit race …
    with pytest.raises(manifest.CommitConflict):
        t._commit({}, base, files, replaced=[0, 1])
    assert sorted(r.k for r in t.scan().collect()) == [1, 2]
    # … but USER time travel keeps the time-travel error type (review r7:
    # CommitConflict is what retry/abort logic is written against)
    with pytest.raises(ValueError, match="no snapshot v0"):
        t.snapshot(version=0)


# --- r7: commit-embedded streaming batch ids -------------------------------

def test_stream_batch_rides_in_commit_and_inherits(mpp):
    from pyspark.sql import functions as F

    mpp.sql("CREATE TABLE sb(k INT, v TEXT) PARTITION BY(k) WITH BUCKETS 4")
    t = mpp.table("sb")
    spark = t.spark
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    assert t.applied_stream_batch("L") is None
    t.insert(df, stream_batch=("L", 0))
    assert t.applied_stream_batch("L") == 0
    # interleaved batch DML must INHERIT the replay record, not erase it
    mpp.sql("UPDATE sb SET v='z' WHERE k=1")
    assert t.applied_stream_batch("L") == 0
    # a second lineage coexists
    t.insert(spark.createDataFrame([(3, "c")], "k int, v string"),
             stream_batch=("M", 5))
    assert t.applied_stream_batch("L") == 0
    assert t.applied_stream_batch("M") == 5
    t.insert(spark.createDataFrame([(4, "d")], "k int, v string"),
             stream_batch=("L", 1))
    assert t.applied_stream_batch("L") == 1
    # upsert path records too
    from duckdb_mpp_spark import dml

    dml.upsert(
        t, spark.createDataFrame([(1, "up")], "k int, v string"), ["k"],
        stream_batch=("L", 2),
    )
    assert t.applied_stream_batch("L") == 2
    got = rows(t.scan(), "k")
    assert [r[0] for r in got] == [1, 2, 3, 4]
    assert got[0][1] == "up"


def test_stream_batch_replay_guard_semantics(mpp):
    """The sink-side guard: a re-delivered id <= applied must be skippable
    with no double-append, exactly the foreachBatch closure's check."""
    mpp.sql("CREATE TABLE sb2(k INT) PARTITION BY(k) WITH BUCKETS 2")
    t = mpp.table("sb2")
    spark = t.spark
    lineage = "ckpt/offsets"

    def deliver(batch_id, values):
        applied = t.applied_stream_batch(lineage)
        if applied is not None and batch_id <= applied:
            return False
        t.insert(spark.createDataFrame([(v,) for v in values], "k int"),
                 stream_batch=(lineage, batch_id))
        return True

    assert deliver(0, [1, 2]) is True
    assert deliver(0, [1, 2]) is False   # replay after successful commit
    assert deliver(1, [3]) is True
    assert deliver(0, [1, 2]) is False   # late replay of an old id
    assert [r[0] for r in rows(t.scan(), "k")] == [1, 2, 3]
