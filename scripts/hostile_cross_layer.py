"""Cross-FAMILY hostile sweep (VERDICT r12 #6) — the seven per-family
sweeps each test one layer in isolation; this one tests the manifest
protocol's safety claims exactly where the layers INTERACT:

- streaming replay protection vs interleaved batch DML: ``commit()``'s
  docstring claims "the per-lineage map is inherited by every later
  commit (batch DML interleaved with streaming must not erase replay
  protection)" — tested with a COW UPDATE between a micro-batch's commit
  and its at-least-once replay, with two interleaved lineages, and across
  compact and DROP/restore.
- snapshot isolation vs VACUUM retention: an open reader planned from
  v(N) must stay consistent while v(N+1) lands and vacuum prunes within
  retention; reading PAST retention must fail loudly, never partially.
- optimistic concurrency vs maintenance: a compact whose base snapshot
  went stale (a streaming upsert landed meanwhile) must lose with
  CommitConflict and leave the winner's rows intact.
- vacuum vs the in-flight-writer staging window: files ingested but not
  yet committed survive the default orphan grace and are reclaimed with
  ``grace=0`` (the documented trust-single-writer mode).
- the incremental band index (a DistributedTable): a reader planned
  before a daily append keeps its snapshot's view, and bucket-pruned
  probes see the appended rows.

Prints one JSON line with per-case verdicts; exit code 1 on any fail.
"""

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from _hostile_common import Harness  # noqa: E402

_h = Harness("cross-layer hostile scenarios")
case = _h.case


def _mpp(spark):
    from duckdb_mpp_spark.mpp import MppSession

    return MppSession(spark, tempfile.mkdtemp(prefix="hostile_xlayer_"))


def _mk(mpp, name="t", buckets=4):
    return mpp.create_distributed_table(name, "k int, v string", "k", buckets)


def _rows(spark, lo, hi, tag="a"):
    return spark.createDataFrame(
        [(i, f"{tag}{i}") for i in range(lo, hi)], "k int, v string"
    )


@case("stream_replay_after_interleaved_cow_update_skips")
def _(spark):
    from duckdb_mpp_spark.dml import update

    mpp = _mpp(spark)
    tbl = _mk(mpp)
    # micro-batch 0 commits with its id in the snapshot doc
    tbl.insert(_rows(spark, 0, 10), stream_batch=("ckpt-A", 0))
    assert tbl.applied_stream_batch("ckpt-A") == 0
    # batch COW UPDATE lands between the stream's commit and its replay
    n = update(tbl, {"v": "'upd'"}, "k < 5")
    assert n == 5
    # at-least-once replay of batch 0 through the SINK'S OWN guard (the
    # exact foreachBatch recipe, streaming/__init__.py ingest_batch): if
    # the interleaved UPDATE erased the lineage map, this re-inserts and
    # the row-count assertion below observes the doubling — the guard is
    # exercised for real, not asserted around (review r13)
    applied = tbl.applied_stream_batch("ckpt-A")
    if applied is None or 0 > applied:
        tbl.insert(_rows(spark, 0, 10), stream_batch=("ckpt-A", 0))
    got = tbl.scan().collect()
    assert len(got) == 10, (
        f"interleaved UPDATE erased replay protection (applied={applied}): "
        f"replayed batch double-applied, {len(got)} rows"
    )
    assert sum(1 for r in got if r.v == "upd") == 5, "UPDATE effects lost"
    # the NEXT batch still applies normally
    tbl.insert(_rows(spark, 10, 15), stream_batch=("ckpt-A", 1))
    assert tbl.applied_stream_batch("ckpt-A") == 1
    assert tbl.scan().count() == 15


@case("two_lineages_interleave_without_cross_erasure")
def _(spark):
    mpp = _mpp(spark)
    tbl = _mk(mpp)
    tbl.insert(_rows(spark, 0, 5), stream_batch=("A", 0))
    tbl.insert(_rows(spark, 5, 10), stream_batch=("B", 10))
    tbl.insert(_rows(spark, 10, 15), stream_batch=("A", 1))
    tbl.insert(_rows(spark, 15, 20), stream_batch=("B", 11))
    assert tbl.applied_stream_batch("A") == 1, "lineage B's commits clobbered A"
    assert tbl.applied_stream_batch("B") == 11, "lineage A's commits clobbered B"
    assert tbl.applied_stream_batch("C") is None
    assert tbl.scan().count() == 20


@case("open_reader_keeps_pre_update_view_within_retention")
def _(spark):
    from duckdb_mpp_spark.dml import update

    mpp = _mpp(spark)
    tbl = _mk(mpp)
    tbl.insert(_rows(spark, 0, 12))
    base = tbl.snapshot()[0]
    old_reader = tbl.scan(version=base)  # planned from v(base)'s file list
    assert update(tbl, {"v": "'new'"}, None) == 12
    # retention keeps both snapshots: the old reader must still see the
    # CONSISTENT pre-update view after vacuum
    tbl.vacuum(keep_commits=2, orphan_grace_seconds=0)
    old = old_reader.collect()
    assert len(old) == 12 and not any(r.v == "new" for r in old), (
        "open v(base) reader leaked the concurrent UPDATE's rows"
    )
    fresh = tbl.scan().collect()
    assert len(fresh) == 12 and all(r.v == "new" for r in fresh)


@case("vacuum_past_retention_fails_reads_loudly_never_partially")
def _(spark):
    from duckdb_mpp_spark.dml import update

    mpp = _mpp(spark)
    tbl = _mk(mpp)
    tbl.insert(_rows(spark, 0, 12))
    base = tbl.snapshot()[0]
    update(tbl, {"v": "'new'"}, None)
    removed = tbl.vacuum(keep_commits=1, orphan_grace_seconds=0)
    assert removed > 0, "vacuum reclaimed nothing after a full COW rewrite"
    # time travel to the pruned version must now fail LOUDLY (at plan or
    # collect) or — if the files happen to survive — return the complete
    # old view; a partial/empty silent result is the one forbidden outcome
    try:
        old = tbl.scan(version=base).collect()
    except Exception:
        pass  # loud failure: the documented retention trade
    else:
        assert len(old) == 12 and not any(r.v == "new" for r in old), (
            f"pruned-version read returned a silent partial view ({len(old)} rows)"
        )
    assert tbl.scan().count() == 12


@case("compact_with_stale_base_conflicts_then_retry_keeps_stream_map")
def _(spark):
    import duckdb_mpp_spark.manifest as M

    mpp = _mpp(spark)
    tbl = _mk(mpp)
    tbl.insert(_rows(spark, 0, 8), stream_batch=("L", 3))
    base, files = tbl.snapshot()
    # a streaming upsert lands between the compactor's snapshot read and
    # its commit — the head moves
    tbl.insert(_rows(spark, 8, 12), stream_batch=("L", 4))
    try:
        M.commit(tbl.path, files, base)
        raise AssertionError("stale-base maintenance commit did not conflict")
    except M.CommitConflict:
        pass
    # the winner's rows are intact and a RETRIED compact succeeds on the
    # fresh head — and inherits the replay map (commit() claim)
    assert tbl.scan().count() == 12
    assert tbl.compact() > 0
    assert tbl.applied_stream_batch("L") == 4, "compact erased replay protection"
    assert tbl.scan().count() == 12
    # replay of batch 4 after the compact is still skipped by the guard
    assert tbl.applied_stream_batch("L") >= 4


@case("drop_restore_preserves_snapshot_and_replay_state")
def _(spark):
    mpp = _mpp(spark)
    tbl = _mk(mpp)
    tbl.insert(_rows(spark, 0, 9), stream_batch=("S", 7))
    mpp.sql("DROP TABLE t")
    try:
        mpp.table("t")
        raise AssertionError("dropped table still resolvable")
    except ValueError:
        pass
    mpp.catalog.restore_table("t")
    tbl2 = mpp.table("t")
    assert tbl2.scan().count() == 9, "restore lost committed rows"
    assert tbl2.applied_stream_batch("S") == 7, "DROP/restore lost replay state"
    tbl2.insert(_rows(spark, 9, 11), stream_batch=("S", 8))
    assert tbl2.scan().count() == 11


@case("vacuum_grace_protects_staged_uncommitted_ingest")
def _(spark):
    mpp = _mpp(spark)
    tbl = _mk(mpp)
    tbl.insert(_rows(spark, 0, 8))
    # simulate an in-flight writer's pre-commit window: a data file staged
    # into a bucket dir, referenced by no snapshot, mtime = now
    bucket_dirs = [
        d for d in os.listdir(tbl.path) if d.startswith("__bucket=")
    ]
    src_dir = os.path.join(tbl.path, bucket_dirs[0])
    src = next(f for f in os.listdir(src_dir) if f.endswith(".parquet"))
    staged = os.path.join(src_dir, "staged-" + src)
    shutil.copyfile(os.path.join(src_dir, src), staged)
    removed = tbl.vacuum(keep_commits=1)  # default grace window
    assert os.path.exists(staged), (
        f"vacuum reclaimed an in-grace uncommitted file (removed={removed})"
    )
    # trust-single-writer mode reclaims it
    tbl.vacuum(keep_commits=1, orphan_grace_seconds=0)
    assert not os.path.exists(staged), "grace=0 vacuum left the orphan"
    assert tbl.scan().count() == 8


@case("band_index_reader_keeps_its_view_across_append")
def _(spark):
    from duckdb_mpp_spark.operators.dedup import create_band_index, probe_band_index

    tbl = create_band_index(_mpp(spark), "idx", 8)
    tbl.insert(spark.createDataFrame(
        [(i, i % 4, f"key{i % 8}") for i in range(32)],
        "doc_id long, band int, band_key string",
    ))
    # planned from the snapshot BEFORE the daily append
    reader = probe_band_index(tbl)
    tbl.insert(spark.createDataFrame(
        [(100 + i, i % 4, f"new{i}") for i in range(16)],
        "doc_id long, band int, band_key string",
    ))
    n = reader.count()
    assert n == 32, f"reader planned before the append saw {n} rows, not 32"
    assert probe_band_index(tbl).count() == 48
    # bucket-pruned probes against the post-append index stay correct
    probe = spark.createDataFrame(
        [(999, 1, "new1")], "doc_id long, band int, band_key string"
    )
    pruned = probe_band_index(tbl, probe)
    assert pruned.where("band_key = 'new1'").count() == 1


if __name__ == "__main__":
    _h.main(app_name="hostile-cross-layer")
