"""Hostile-scenario sweep for the MANIFEST/DML layer (VERDICT r11 #5) —
the snapshot-commit protocol under the failure modes a 100 TB deployment
actually hits, which the unit tests cover only with clean fixtures.

The contract under test is durability, not answers: optimistic
concurrency must SURFACE write-write conflicts (never silently lose a
committed write), emptied buckets must stay scannable at both snapshots,
zero-match DML must not publish snapshot spam, vacuum must reclaim only
dead generations while the grace window protects in-flight writers, and
time travel must either serve the exact historical rows or fail loudly
once retention pruned them.

Scenarios:
  * a COW UPDATE whose planning raced a concurrent INSERT on the same
    bucket (stale base) -> CommitConflict, the insert survives, nothing
    is partially applied, no staging litter;
  * an INSERT that loses its first commit race -> rebases and lands with
    BOTH writers' rows (appends commute);
  * two manifest.commit calls from one base -> exactly one wins; the
    loser's orphaned bucket manifests are vacuumable;
  * DELETE emptying a whole bucket -> head scan empty there, time travel
    serves the original rows value-exact, the bucket accepts new inserts;
  * zero-match UPDATE/DELETE (pred false, pruned-away value, empty
    table) -> 0 and NO new snapshot version;
  * append after VACUUM reclaimed a COW generation; time travel to the
    vacuumed version raises the named ValueError;
  * vacuum's orphan grace window: a fresh uncommitted file in a bucket
    dir survives default-grace vacuum, dies at grace 0, and is invisible
    to scans either way;
  * time-travel read across OPTIMIZE (compact): pre-compact version
    serves identical rows until vacuum prunes it;
  * DROP then CREATE of the same name -> fresh directory, no
    resurrection of the old table's rows;
  * an externally-written torn head file -> readers fall back, the next
    insert publishes ABOVE it.

MUST be run with the repo importable. Prints one JSON line with
per-case verdicts; exit code 1 when any case fails.
"""

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from _hostile_common import Harness  # noqa: E402

_h = Harness("manifest/DML hostile scenarios")
case = _h.case


def _mpp(spark):
    from duckdb_mpp_spark.mpp import MppSession

    return MppSession(spark, tempfile.mkdtemp(prefix="hostile_mdml_"))


def _frame(spark, lo, hi, tag="a"):
    return spark.createDataFrame(
        [(i, f"{tag}{i}") for i in range(lo, hi)], "k int, v string"
    )


def _rows(df):
    return sorted((r.k, r.v) for r in df.select("k", "v").collect())


def _stale_head_patch(tbl, n_stale_reads):
    """Monkeypatch tbl.snapshot so the next ``n_stale_reads`` HEAD
    reads (version=None) return a pre-captured stale snapshot — the
    deterministic equivalent of a concurrent writer committing between a
    DML's planning read and its commit. Explicit-version reads pass
    through untouched. Returns a restore() callable."""
    real = tbl.snapshot
    stale = real()
    state = {"left": n_stale_reads}

    def patched(version=None):
        if version is None and state["left"] > 0:
            state["left"] -= 1
            return stale
        return real(version)

    tbl.snapshot = patched
    return lambda: setattr(tbl, "snapshot", real)


# --- concurrency -------------------------------------------------------------

@case("update_racing_insert_conflicts_not_lost_update")
def _(spark):
    from duckdb_mpp_spark import dml
    from duckdb_mpp_spark.manifest import CommitConflict, current_version

    mpp = _mpp(spark)
    tbl = mpp.create_distributed_table("t", "k int, v string", "k", 4)
    tbl.insert(_frame(spark, 0, 20))
    restore = _stale_head_patch(tbl, n_stale_reads=1)
    try:
        tbl2 = mpp.table("t")  # concurrent writer
        tbl2.insert(_frame(spark, 100, 110, tag="b"))
        head_before = current_version(tbl.path)
        try:
            dml.update(tbl, {"v": "'X'"}, "k < 5")
            raise AssertionError("stale-base UPDATE did not CommitConflict")
        except CommitConflict:
            pass
    finally:
        restore()
    # the concurrent insert survives, nothing is partially applied
    assert current_version(tbl.path) == head_before, "conflict moved the head"
    got = _rows(tbl.scan())
    want = _rows(_frame(spark, 0, 20).union(_frame(spark, 100, 110, tag="b")))
    assert got == want, "rows lost or partially updated after the conflict"
    # no staging litter beside the table directory
    parent = os.path.dirname(tbl.path)
    litter = [d for d in os.listdir(parent) if ".stage-" in d]
    assert not litter, f"staging litter left behind: {litter}"


@case("insert_rebase_recovers_from_commit_race")
def _(spark):
    from duckdb_mpp_spark.manifest import current_version

    mpp = _mpp(spark)
    tbl = mpp.create_distributed_table("t", "k int, v string", "k", 4)
    tbl.insert(_frame(spark, 0, 10))
    # the loser's planning read is stale ONCE; the rebase loop's re-read
    # sees the truth — append must land with both writers' rows
    restore = _stale_head_patch(tbl, n_stale_reads=1)
    try:
        tbl2 = mpp.table("t")
        tbl2.insert(_frame(spark, 50, 60, tag="b"))
        tbl.insert(_frame(spark, 100, 110, tag="c"))
    finally:
        restore()
    got = _rows(tbl.scan())
    want = _rows(
        _frame(spark, 0, 10)
        .union(_frame(spark, 50, 60, tag="b"))
        .union(_frame(spark, 100, 110, tag="c"))
    )
    assert got == want, "rebased append lost a writer's rows"
    assert current_version(tbl.path) == 3


@case("manifest_commit_same_version_race")
def _(spark):
    from duckdb_mpp_spark import manifest
    from duckdb_mpp_spark.manifest import CommitConflict

    mpp = _mpp(spark)
    tbl = mpp.create_distributed_table("t", "k int, v string", "k", 2)
    tbl.insert(_frame(spark, 0, 8))
    base, files = tbl.snapshot()
    v = manifest.commit(tbl.path, files, base)  # winner
    try:
        manifest.commit(tbl.path, files, base)
        raise AssertionError("second commit from the same base did not lose")
    except CommitConflict:
        pass
    assert manifest.current_version(tbl.path) == v
    # state stays loadable and value-identical
    assert _rows(tbl.scan()) == _rows(_frame(spark, 0, 8))
    cdir = os.path.join(tbl.path, manifest.COMMITS_DIR)
    n_manifests = len([f for f in os.listdir(cdir) if f.startswith("m-")])
    tbl.vacuum(keep_commits=1, orphan_grace_seconds=0)
    kept = len([f for f in os.listdir(cdir) if f.startswith("m-")])
    assert kept <= n_manifests, "vacuum grew the manifest set"
    assert _rows(tbl.scan()) == _rows(_frame(spark, 0, 8))


@case("manifest_commit_link_race_loser_conflicts")
def _(spark):
    """The DEEPER race: both writers pass the base check (the head has
    not moved yet when the loser reads it) and race the conditional put
    itself — os.link must hand exactly one of them the version file,
    the loser must surface CommitConflict ('lost race publishing'), and
    the loser's freshly-written bucket manifests must be vacuumable
    garbage, never a corrupted head."""
    from duckdb_mpp_spark import manifest
    from duckdb_mpp_spark.manifest import CommitConflict

    mpp = _mpp(spark)
    tbl = mpp.create_distributed_table("t", "k int, v string", "k", 2)
    tbl.insert(_frame(spark, 0, 8))
    base, files = tbl.snapshot()
    # freeze the head the loser sees: patch current_version so the
    # loser's base check passes AFTER the winner has already published —
    # the deterministic equivalent of two writers racing the link
    real_cv = manifest.current_version
    winner_v = manifest.commit(tbl.path, files, base)
    manifest.current_version = lambda p: base
    # and aim the loser at the winner's just-claimed version number
    real_lv = manifest._list_versions
    manifest._list_versions = lambda p: [x for x in real_lv(p) if x < winner_v]
    try:
        try:
            manifest.commit(tbl.path, dict(files), base)
            raise AssertionError("link-race loser did not CommitConflict")
        except CommitConflict as e:
            assert "lost race" in str(e), f"wrong conflict arm: {e}"
    finally:
        manifest.current_version = real_cv
        manifest._list_versions = real_lv
    # winner's snapshot intact; loser left no torn version file
    assert manifest.current_version(tbl.path) == winner_v
    assert _rows(tbl.scan()) == _rows(_frame(spark, 0, 8))
    cdir = os.path.join(tbl.path, manifest.COMMITS_DIR)
    assert not [f for f in os.listdir(cdir) if f.startswith(".tmp-")], (
        "loser left a staged temp manifest list behind"
    )
    # loser's orphaned bucket manifests (if any new were written) are
    # reclaimed by vacuum without disturbing the live snapshot
    tbl.vacuum(keep_commits=1, orphan_grace_seconds=0)
    assert _rows(tbl.scan()) == _rows(_frame(spark, 0, 8))


# --- emptied buckets / zero-match DML ----------------------------------------

@case("delete_empties_bucket_time_travel_intact")
def _(spark):
    from duckdb_mpp_spark import dml
    from duckdb_mpp_spark.manifest import current_version

    mpp = _mpp(spark)
    tbl = mpp.create_distributed_table("t", "k int, v string", "k", 4)
    tbl.insert(_frame(spark, 0, 40))
    v_pre = current_version(tbl.path)
    pre_rows = _rows(tbl.scan())
    # every row whose k hashes to bucket of k=7 — delete by exact bucket
    # occupancy so the bucket ends the commit EMPTY
    bucket_rows = [r.k for r in tbl.scan(keep_bucket=True)
                   .where("__bucket = pmod(hash(7), 4)").collect()]
    assert bucket_rows, "fixture bug: target bucket empty before delete"
    n = dml.delete(tbl, f"k in ({','.join(map(str, bucket_rows))})")
    assert n == len(bucket_rows)
    # head: rows gone; the emptied bucket holds no files in the snapshot
    _, files = tbl.snapshot()
    target_dir = "__bucket=" + str(
        spark.sql("SELECT pmod(hash(7), 4)").collect()[0][0]
    )
    assert not any(rel.startswith(target_dir + "/") for rel in files), (
        "emptied bucket still holds files in the head snapshot"
    )
    head_rows = _rows(tbl.scan())
    assert head_rows == sorted(
        (k, v) for k, v in pre_rows if k not in set(bucket_rows)
    )
    # time travel serves the original rows value-exact
    assert _rows(tbl.scan(version=v_pre)) == pre_rows
    # the emptied bucket accepts new inserts and pruned scans find them
    tbl.insert(spark.createDataFrame([(7, "new7")], "k int, v string"))
    got = _rows(tbl.scan(where="k = 7"))
    assert got == [(7, "new7")], f"emptied bucket unreadable after refill: {got}"


@case("zero_match_dml_publishes_no_snapshot")
def _(spark):
    from duckdb_mpp_spark import dml
    from duckdb_mpp_spark.manifest import current_version

    mpp = _mpp(spark)
    tbl = mpp.create_distributed_table("t", "k int, v string", "k", 4)
    tbl.insert(_frame(spark, 0, 16))
    head = current_version(tbl.path)
    assert dml.update(tbl, {"v": "'X'"}, "k = 9999") == 0
    assert dml.update(tbl, {"v": "'X'"}, "k < 0") == 0
    assert dml.delete(tbl, "k = 9999") == 0
    assert current_version(tbl.path) == head, (
        "zero-match DML published snapshot spam"
    )
    assert _rows(tbl.scan()) == _rows(_frame(spark, 0, 16))
    # empty table: both return 0 without a commit log entry
    t2 = mpp.create_distributed_table("t_empty", "k int, v string", "k", 4)
    assert dml.update(t2, {"v": "'X'"}, "k = 1") == 0
    assert dml.delete(t2, "k = 1") == 0
    assert current_version(t2.path) == 0


@case("delete_all_metadata_only_then_reinsert")
def _(spark):
    from duckdb_mpp_spark import dml
    from duckdb_mpp_spark.manifest import current_version

    mpp = _mpp(spark)
    tbl = mpp.create_distributed_table("t", "k int, v string", "k", 4)
    tbl.insert(_frame(spark, 0, 24))
    v_pre = current_version(tbl.path)
    assert dml.delete(tbl, None) == 24
    assert tbl.scan().count() == 0
    # metadata-only: the old generation's files still exist for the
    # time-travel read
    assert _rows(tbl.scan(version=v_pre)) == _rows(_frame(spark, 0, 24))
    tbl.insert(_frame(spark, 100, 105, tag="n"))
    assert _rows(tbl.scan()) == _rows(_frame(spark, 100, 105, tag="n"))


# --- vacuum -------------------------------------------------------------------

@case("append_after_vacuum_reclaimed_cow_generation")
def _(spark):
    from duckdb_mpp_spark import dml

    mpp = _mpp(spark)
    tbl = mpp.create_distributed_table("t", "k int, v string", "k", 4)
    tbl.insert(_frame(spark, 0, 20))
    v1, files_v1 = tbl.snapshot()
    assert dml.update(tbl, {"v": "'upd'"}, "k < 10") == 10
    removed = tbl.vacuum(keep_commits=1, orphan_grace_seconds=0)
    assert removed > 0, "vacuum reclaimed nothing after a COW rewrite"
    # the vacuumed version is gone LOUDLY
    try:
        tbl.scan(version=v1).collect()
        raise AssertionError("time travel to a vacuumed version succeeded")
    except ValueError as e:
        assert "no snapshot" in str(e)
    # appends keep working on the vacuumed table
    tbl.insert(_frame(spark, 200, 205, tag="p"))
    got = dict(_rows(tbl.scan()))
    assert got[3] == "upd" and got[15] == "a15" and got[203] == "p203"
    assert len(got) == 25


@case("vacuum_orphan_grace_protects_inflight_writer")
def _(spark):
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    mpp = _mpp(spark)
    tbl = mpp.create_distributed_table("t", "k int, v string", "k", 2)
    tbl.insert(_frame(spark, 0, 8))
    # a fresh file in a bucket dir referenced by NO snapshot = an
    # in-flight writer's pre-commit batch
    bdir = os.path.join(tbl.path, "__bucket=0")
    orphan = os.path.join(bdir, "part-inflight-orphan.parquet")
    pq.write_table(
        pa.Table.from_pandas(pd.DataFrame({"k": [999], "v": ["orphan"]})),
        orphan,
    )
    # invisible to scans (snapshot is the source of truth)
    assert (999, "orphan") not in _rows(tbl.scan())
    tbl.vacuum(keep_commits=1)  # default grace: must survive
    assert os.path.exists(orphan), "grace window did not protect the orphan"
    tbl.vacuum(keep_commits=1, orphan_grace_seconds=0)
    assert not os.path.exists(orphan), "grace-0 vacuum kept a dead orphan"
    assert _rows(tbl.scan()) == _rows(_frame(spark, 0, 8))


# --- optimize / time travel ----------------------------------------------------

@case("time_travel_across_optimize")
def _(spark):
    from duckdb_mpp_spark.manifest import current_version

    mpp = _mpp(spark)
    tbl = mpp.create_distributed_table("t", "k int, v string", "k", 4)
    for lo in (0, 20, 40):  # three generations -> small-file state
        tbl.insert(_frame(spark, lo, lo + 20))
    v_pre = current_version(tbl.path)
    pre = _rows(tbl.scan(version=v_pre))
    assert tbl.compact() > 0
    # a reader pinned to the pre-compact snapshot is undisturbed
    assert _rows(tbl.scan(version=v_pre)) == pre
    assert _rows(tbl.scan()) == pre
    # retention finally prunes the pinned version — loudly
    tbl.vacuum(keep_commits=1, orphan_grace_seconds=0)
    try:
        tbl.scan(version=v_pre).collect()
        raise AssertionError("vacuumed pre-compact version still readable")
    except ValueError as e:
        assert "no snapshot" in str(e)
    assert _rows(tbl.scan()) == pre


# --- catalog tombstone / torn head ----------------------------------------------

@case("drop_then_create_no_resurrection")
def _(spark):
    mpp = _mpp(spark)
    tbl = mpp.create_distributed_table("t", "k int, v string", "k", 4)
    tbl.insert(_frame(spark, 0, 10))
    old_path = tbl.path
    mpp.sql("DROP TABLE t")
    t2 = mpp.create_distributed_table("t", "k int, v string", "k", 4)
    assert t2.path != old_path, "re-created table reuses the dropped dir"
    assert t2.scan().count() == 0, "dropped table's rows resurrected"
    t2.insert(_frame(spark, 100, 103, tag="n"))
    assert _rows(t2.scan()) == _rows(_frame(spark, 100, 103, tag="n"))
    # the dropped table's files still exist on disk (reference parity:
    # only the coordinator entry is dropped)
    assert os.path.isdir(old_path)


@case("torn_head_reader_fallback_writer_above")
def _(spark):
    from duckdb_mpp_spark.manifest import COMMITS_DIR, current_version

    mpp = _mpp(spark)
    tbl = mpp.create_distributed_table("t", "k int, v string", "k", 4)
    tbl.insert(_frame(spark, 0, 12))
    head = current_version(tbl.path)
    # external tooling tears a head file above ours
    torn = os.path.join(tbl.path, COMMITS_DIR, f"v{head + 1:010d}.json")
    with open(torn, "w") as f:
        f.write('{"buckets": {"__bucket=0"')  # truncated JSON
    assert current_version(tbl.path) == head, "torn file became the head"
    assert _rows(tbl.scan()) == _rows(_frame(spark, 0, 12))
    # the next writer publishes ABOVE the torn filename — no livelock
    tbl.insert(_frame(spark, 50, 53, tag="b"))
    assert current_version(tbl.path) == head + 2
    got = _rows(tbl.scan())
    assert got == _rows(_frame(spark, 0, 12).union(_frame(spark, 50, 53, tag="b")))


if __name__ == "__main__":
    _h.main(app_name="hostile-manifest-dml")
