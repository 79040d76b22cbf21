"""Upsert (dml.upsert) and snapshot time travel — the two capabilities built
directly on the versioned-commit storage (manifest.py).

Upsert contract: key-matched rows replaced, unmatched appended, one snapshot
commit (readers never see a half-applied merge), untouched buckets never
rewritten. Time travel: ``scan(version=N)`` reproduces the table exactly as
of commit N until vacuumed past.
"""

import pytest

from duckdb_mpp_spark import dml, manifest
from tests.conftest import bucket_files, bucket_of, input_paths, rows


@pytest.fixture()
def kv_table(spark, mpp):
    tbl = mpp.create_distributed_table("kv", "k INT, grp INT, v TEXT", "grp", 4)
    tbl.insert(
        spark.createDataFrame(
            [(i, i % 10, f"old{i}") for i in range(50)], "k INT, grp INT, v STRING"
        )
    )
    return tbl


def test_upsert_replaces_and_appends(spark, mpp, kv_table):
    batch = spark.createDataFrame(
        [(7, 7, "NEW7"), (23, 3, "NEW23"), (100, 0, "NEW100")],
        "k INT, grp INT, v STRING",
    )
    assert mpp.upsert("kv", batch, ["grp", "k"]) == 3
    got = dict((r[0], r[2]) for r in rows(kv_table.scan(), "k"))
    assert len(got) == 51  # 50 - 2 replaced + 2 replaced + 1 appended
    assert got[7] == "NEW7" and got[23] == "NEW23" and got[100] == "NEW100"
    assert got[8] == "old8"  # untouched row intact


def test_upsert_is_one_commit_and_prunes_buckets(spark, mpp, kv_table, dml_scans):
    # both listing arms: the default bound stats the merge scan's file list
    # on the driver (no job), bound 0 hands it to Spark's listing job
    from duckdb_mpp_spark.table import DRIVER_LISTING_FILES

    for bound, grp in ((DRIVER_LISTING_FILES, 5), (0, 6)):
        base_version, before = kv_table.snapshot()
        batch = spark.createDataFrame(
            [(grp, grp, f"NEW{grp}")], "k INT, grp INT, v STRING"
        )
        with dml_scans(bound) as scans:
            mpp.upsert("kv", batch, ["grp", "k"])
        version, files = kv_table.snapshot()
        assert version == base_version + 1  # exactly ONE commit for the merge
        # only grp's bucket was rewritten: every other bucket's files unchanged
        bucket = bucket_of(kv_table, str(grp))
        target = f"__bucket={bucket}/"
        untouched_before = {r for r in before if not r.startswith(target)}
        assert untouched_before <= set(files)
        assert {r for r in before if r.startswith(target)}.isdisjoint(files)
        # the merge scan listed only that bucket's files
        [(_ids, df, jobs)] = scans
        assert input_paths(df) == bucket_files(kv_table, before, bucket)
        assert (jobs == 0) == (bound > 0), (bound, jobs)
    got = dict((r[0], r[2]) for r in rows(kv_table.scan(), "k"))
    assert len(got) == 50 and got[5] == "NEW5" and got[6] == "NEW6"


def test_upsert_requires_partition_key(spark, mpp, kv_table):
    batch = spark.createDataFrame([(1, 1, "x")], "k INT, grp INT, v STRING")
    with pytest.raises(ValueError, match="partition column"):
        dml.upsert(kv_table, batch, ["k"])


def test_time_travel_reads_each_commit(spark, mpp):
    tbl = mpp.create_distributed_table("tt", "k INT, grp INT", "grp", 4)
    tbl.insert(spark.createDataFrame([(1, 1), (2, 2)], "k INT, grp INT"))   # v1
    tbl.insert(spark.createDataFrame([(3, 3)], "k INT, grp INT"))           # v2
    dml.delete(tbl, "k = 1")                                                # v3
    assert [r[0] for r in rows(tbl.scan(version=1), "k")] == [1, 2]
    assert [r[0] for r in rows(tbl.scan(version=2), "k")] == [1, 2, 3]
    assert [r[0] for r in rows(tbl.scan(version=3), "k")] == [2, 3]
    assert [r[0] for r in rows(tbl.scan(), "k")] == [2, 3]
    assert [h[0] for h in tbl.history()] == [1, 2, 3]
    assert [h[2] for h in tbl.history()] == [2, 3, 2]  # row counts per version


def test_vacuum_respects_retained_history(spark, mpp):
    tbl = mpp.create_distributed_table("vr", "k INT, grp INT", "grp", 2)
    tbl.insert(spark.createDataFrame([(1, 1)], "k INT, grp INT"))  # v1
    dml.update(tbl, {"k": "k + 10"}, "k = 1")                      # v2
    tbl.insert(spark.createDataFrame([(2, 2)], "k INT, grp INT"))  # v3
    # keep last 2 commits: v2's files must survive, v1's pre-update file goes
    tbl.vacuum(keep_commits=2)
    assert [h[0] for h in tbl.history()] == [2, 3]
    assert [r[0] for r in rows(tbl.scan(version=2), "k")] == [11]
    with pytest.raises(ValueError, match="no snapshot v1"):
        tbl.scan(version=1)
    # full vacuum: only head remains readable, table content intact
    tbl.vacuum()
    assert [r[0] for r in rows(tbl.scan(), "k")] == [2, 11]


def test_sql_version_as_of(spark, mpp):
    """Time travel through the SQL front door: `FROM t VERSION AS OF n`."""
    mpp.sql("CREATE TABLE tv(k INT, grp INT) PARTITION BY (grp) WITH BUCKETS 4")
    mpp.sql("INSERT INTO tv VALUES (1, 1), (2, 2)")   # v1
    mpp.sql("DELETE FROM tv WHERE k = 1")             # v2
    assert [r[0] for r in rows(mpp.sql("SELECT k FROM tv VERSION AS OF 1"), "k")] == [1, 2]
    assert [r[0] for r in rows(mpp.sql("SELECT k FROM tv VERSION AS OF 2"), "k")] == [2]
    assert [r[0] for r in rows(mpp.sql("SELECT k FROM tv"), "k")] == [2]
    # joins against the live head still work alongside a pinned read
    got = mpp.sql(
        "SELECT a.k FROM (SELECT k FROM tv VERSION AS OF 1) a WHERE a.k = 1"
    ).collect()
    assert [r[0] for r in got] == [1]


def test_manifest_load_version_missing(mpp):
    tbl = mpp.create_distributed_table("mv", "k INT", "k", 2)
    with pytest.raises(ValueError, match="no snapshot v9"):
        manifest.load_version_full(tbl.path, 9)


def test_upsert_null_keys_append(spark, mpp):
    """NULL never equals NULL in a join, so NULL-key input rows APPEND
    rather than replace — the standard SQL MERGE matching semantics,
    documented here so the behavior is a contract, not an accident."""
    tbl = mpp.create_distributed_table("nk", "k INT, grp INT", "grp", 2)
    tbl.insert(spark.createDataFrame([(None, None), (1, 1)], "k INT, grp INT"))
    dml.upsert(
        tbl, spark.createDataFrame([(None, None)], "k INT, grp INT"), ["grp", "k"]
    )
    vals = sorted((r[0] or -1) for r in rows(tbl.scan()))
    assert vals == [-1, -1, 1]  # NULL-key row appended, not replaced


def test_concurrent_commits_race_one_winner(mpp):
    """Two writers publishing against the same base: the conditional-put
    must let exactly one claim each version — no lost updates, no torn
    state. (Threads share the commit directory like two drivers sharing an
    object-store prefix.)"""
    import threading

    tbl = mpp.create_distributed_table("race", "k INT", "k", 2)
    base = manifest.current_version(tbl.path)
    results = []
    gate = threading.Barrier(4)  # maximize overlap inside commit()

    def attempt(tag):
        gate.wait()
        try:
            v = manifest.commit(tbl.path, {tag: {"rows": 1, "min": None, "max": None}}, base)
            results.append(("ok", tag, v))
        except manifest.CommitConflict:
            results.append(("conflict", tag, None))

    ts = [threading.Thread(target=attempt, args=(f"__bucket=0/f{i}.parquet",)) for i in range(4)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    winners = [r for r in results if r[0] == "ok"]
    assert len(winners) == 1  # exactly one writer claimed v(base+1)
    assert manifest.current_version(tbl.path) == base + 1
    # the committed snapshot is exactly the winner's content
    assert set(manifest.load_version_full(tbl.path, base + 1)[0]) == {winners[0][1]}


def test_describe_history_sql(spark, mpp):
    mpp.sql("CREATE TABLE dh(k INT, grp INT) PARTITION BY (grp) WITH BUCKETS 2")
    mpp.sql("INSERT INTO dh VALUES (1, 1)")
    mpp.sql("INSERT INTO dh VALUES (2, 2), (3, 3)")
    got = [tuple(r) for r in mpp.sql("DESCRIBE HISTORY dh").orderBy("version").collect()]
    assert [(v, n) for v, _f, n in got] == [(1, 1), (2, 3)]
