"""UPDATE of the partition column: the updated row moves to the bucket its
new value hashes to, so ``__bucket = pmod(hash(col), n)`` holds for every
row of every snapshot and pruned reads, DML, upsert, UNIQUE checks and time
travel need no fallback. A snapshot written before that held (its version
doc carries a non-empty ``dirty`` bucket list) is refused until OPTIMIZE
re-routes it."""

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from duckdb_mpp_spark import dml, manifest
from duckdb_mpp_spark.table import MisroutedSnapshot
from tests.conftest import bucket_of, count_jobs, rows

VALUES = [(-2, "apple"), (-1, "banana"), (None, "pear"), (0, None),
          (1, "watermelon"), (2, "grape"), (7, "fig"), (13, "lime")]


def _buckets_of(tbl, key, value, version=None):
    """The ``__bucket`` of every row whose ``key`` column equals ``value``
    in the head (or ``version``) snapshot, read straight from the files."""
    files = tbl.snapshot_files(version)
    return sorted(
        r[0] for r in tbl.read_buckets(files)
        .where(f"{key} = {value}").select("__bucket").collect()
    )


def _files_outside(tbl, bucket):
    """Snapshot files of every bucket but ``bucket``."""
    return {rel for rel in tbl.snapshot_files()
            if not rel.startswith(f"__bucket={bucket}/")}


def _shards(mpp, query):
    return [ln for ln in mpp.sql(f"EXPLAIN {query}").splitlines()
            if ln.startswith("Shards:")][0]


def test_partition_column_update_keeps_pruned_reads_exact(mpp):
    """(NULL, 'pear') becomes (0, 'pear'): pruned reads, a second pruned
    UPDATE and EXPLAIN all see it in bucket(0), before and after OPTIMIZE
    (a hypothesis counterexample, pinned)."""
    mpp.sql("CREATE TABLE dd(c0 INT, c1 TEXT) PARTITION BY (c0) WITH BUCKETS 8")
    vals = ", ".join(
        f"({'NULL' if v is None else v}, {'NULL' if s is None else repr(s)})"
        for v, s in VALUES
    )
    mpp.sql(f"INSERT INTO dd VALUES {vals}")
    assert _shards(mpp, "SELECT * FROM dd WHERE c0 = 0") == "Shards: 1/8"

    mpp.sql("UPDATE dd SET c0 = 0 WHERE c0 IS NULL")
    tbl = mpp.table("dd")
    assert _buckets_of(tbl, "c0", 0) == [bucket_of(tbl, "0")] * 2

    def c1_at_zero():
        return sorted((r["c1"] or "")
                      for r in mpp.sql("SELECT c1 FROM dd WHERE c0 = 0").collect())

    assert c1_at_zero() == ["", "pear"]
    # a second pruned UPDATE reaches it (the falsifying sequence)
    assert mpp.sql("UPDATE dd SET c1 = upper(c1) WHERE c0 = 0") == 2
    assert c1_at_zero() == ["", "PEAR"]
    # the moved row needs no extra shard
    assert _shards(mpp, "SELECT * FROM dd WHERE c0 = 0") == "Shards: 1/8"

    mpp.sql("OPTIMIZE dd")
    assert _shards(mpp, "SELECT * FROM dd WHERE c0 = 0") == "Shards: 1/8"
    assert c1_at_zero() == ["", "PEAR"]
    # nothing lost or duplicated table-wide
    assert mpp.sql("SELECT count(*) AS n FROM dd").collect()[0]["n"] == len(VALUES)


def test_moved_row_is_one_shard_away_in_two_jobs(spark, mpp):
    """Right after ``UPDATE t SET k = new WHERE k = old`` a point read of
    the new value prunes to one shard and finds the row, and the UPDATE
    runs the two Spark jobs any keyed UPDATE runs."""
    mpp.sql("CREATE TABLE mv(k INT, v TEXT) PARTITION BY (k) WITH BUCKETS 8")
    mpp.sql("INSERT INTO mv SELECT CAST(id AS INT), CAST(id AS STRING) "
            "FROM range(40)")
    tbl = mpp.table("mv")
    assert bucket_of(tbl, "3") != bucket_of(tbl, "77")
    with count_jobs(spark) as jobs:
        assert mpp.sql("UPDATE mv SET k = 77 WHERE k = 3") == 1
    assert jobs == [2]
    assert _shards(mpp, "SELECT * FROM mv WHERE k = 77") == "Shards: 1/8"
    assert rows(mpp.sql("SELECT k, v FROM mv WHERE k = 77")) == [(77, "3")]
    assert _buckets_of(tbl, "k", 77) == [bucket_of(tbl, "77")]
    assert rows(mpp.sql("SELECT k FROM mv WHERE k = 3")) == []


def test_upsert_matches_moved_key_after_partition_update(spark, mpp):
    """A key whose partition value changed via UPDATE lives in its new
    value's bucket, so a later upsert of that key replaces it."""
    mpp.sql("CREATE TABLE du(k INT, v TEXT) PARTITION BY (k) WITH BUCKETS 8")
    mpp.sql("INSERT INTO du VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    mpp.sql("UPDATE du SET k = 40 WHERE k = 2")
    tbl = mpp.table("du")
    assert _buckets_of(tbl, "k", 40) == [bucket_of(tbl, "40")]
    batch = spark.createDataFrame([(40, "B2")], "k int, v string")
    assert dml.upsert(tbl, batch, ["k"]) == 1
    got = sorted(tuple(r) for r in mpp.sql("SELECT k, v FROM du").collect())
    assert got == [(1, "a"), (3, "c"), (40, "B2")]


def test_struct_partition_update_moves_row_home(mpp):
    """A STRUCT-typed partition column ('s.a') is re-valued by assigning
    its TOP-LEVEL field ('s'): that UPDATE moves the row too (review r6)."""
    mpp.sql(
        "CREATE TABLE sd(id INT, s STRUCT(a INT, b TEXT)) "
        "PARTITION BY (s.a) WITH BUCKETS 6"
    )
    mpp.sql(
        "INSERT INTO sd VALUES (1, named_struct('a', 1, 'b', 'x')), "
        "(2, named_struct('a', 2, 'b', 'y')), (3, named_struct('a', 5, 'b', 'z'))"
    )
    mpp.sql("UPDATE sd SET s = named_struct('a', 1, 'b', 'moved') WHERE id = 2")
    tbl = mpp.table("sd")
    home = bucket_of(tbl, "1")
    assert _buckets_of(tbl, "id", 2) == [home]

    def ids_at_one():
        return sorted(
            r["id"] for r in mpp.sql("SELECT id FROM sd WHERE s.a = 1").collect()
        )

    assert ids_at_one() == [1, 2]
    mpp.sql("OPTIMIZE sd")
    assert _buckets_of(tbl, "id", 2) == [home]
    assert ids_at_one() == [1, 2]


def test_upsert_rewrites_only_batch_buckets_after_partition_update(spark, mpp):
    """After a partition-column UPDATE an upsert still rewrites only the
    batch's buckets (review r6: no write amplification), and a batch
    holding the moved key replaces it."""
    mpp.sql("CREATE TABLE da(k INT, v TEXT) PARTITION BY (k) WITH BUCKETS 8")
    mpp.sql("INSERT INTO da VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    mpp.sql("UPDATE da SET k = 40 WHERE k = 2")
    tbl = mpp.table("da")
    # unrelated-key upsert: every other bucket's files survive untouched
    before = _files_outside(tbl, bucket_of(tbl, "7"))
    batch = spark.createDataFrame([(7, "new")], "k int, v string")
    assert dml.upsert(tbl, batch, ["k"]) == 1
    assert _files_outside(tbl, bucket_of(tbl, "7")) == before
    # matching-key upsert: the moved key IS replaced (no duplicate)
    batch = spark.createDataFrame([(40, "B2")], "k int, v string")
    assert dml.upsert(tbl, batch, ["k"]) == 1
    got = sorted(tuple(r) for r in mpp.sql("SELECT k, v FROM da").collect())
    assert got == [(1, "a"), (3, "c"), (7, "new"), (40, "B2")]


def test_time_travel_reads_partition_update_versions(mpp):
    """Every version is exactly routed: a pruned time-travel read of the
    UPDATE's version finds the moved row in its new bucket, and the
    version before it never had the value."""
    mpp.sql("CREATE TABLE tt(k INT, v TEXT) PARTITION BY (k) WITH BUCKETS 8")
    mpp.sql("INSERT INTO tt VALUES (1, 'a'), (2, 'b')")
    tbl = mpp.table("tt")
    v_before = tbl.snapshot()[0]
    mpp.sql("UPDATE tt SET k = 40 WHERE k = 2")
    v_moved = tbl.snapshot()[0]
    mpp.sql("OPTIMIZE tt")
    assert _buckets_of(tbl, "k", 40, version=v_moved) == [bucket_of(tbl, "40")]
    assert _buckets_of(tbl, "k", 40) == [bucket_of(tbl, "40")]
    got = sorted(r["v"] for r in tbl.scan(where="k = 40", version=v_moved).collect())
    assert got == ["b"]
    assert sorted(r["v"] for r in tbl.scan(where="k = 40").collect()) == ["b"]
    assert tbl.scan(where="k = 40", version=v_before).count() == 0


def test_partition_update_moved_row_survives_compact(spark, mpp):
    """Move k=3 to k=77 through ``dml.update``: pruned scans find it under
    its new value only, before and after compact."""
    tbl = mpp.create_distributed_table("t", "k int, v string", "k", 8)
    tbl.insert(spark.createDataFrame(
        [(i, f"a{i}") for i in range(64)], "k int, v string"
    ))
    assert dml.update(tbl, {"k": "77"}, "k = 3") == 1

    def at(k):
        return sorted((r.k, r.v) for r in tbl.scan(where=f"k = {k}").collect())

    assert at(77) == [(77, "a3")]
    assert at(3) == []
    assert _buckets_of(tbl, "k", 77) == [bucket_of(tbl, "77")]
    assert tbl.compact() > 0
    assert at(77) == [(77, "a3")]
    assert tbl.scan().count() == 64


# --- UNIQUE -----------------------------------------------------------------

def test_partition_col_update_cannot_shadow_global_unique(mpp):
    """The partition-column UNIQUE constraint is value-global: UPDATE SET
    k = <existing value> moves the row into that value's bucket, where the
    check sees the duplicate (review r6)."""
    mpp.sql(
        "CREATE TABLE gu(k INT UNIQUE, v TEXT) PARTITION BY (k) WITH BUCKETS 8"
    )
    assert mpp.sql("INSERT INTO gu VALUES (1, 'a'), (2, 'b')") == 2
    with pytest.raises(ValueError, match="unique constraint"):
        mpp.sql("UPDATE gu SET k = 1 WHERE k = 2")
    # rejected update leaves the table untouched
    got = sorted(tuple(r) for r in mpp.sql("SELECT k, v FROM gu").collect())
    assert got == [(1, "a"), (2, "b")]
    # a non-colliding partition-column update still works
    assert mpp.sql("UPDATE gu SET k = 40 WHERE k = 2") == 1
    got = sorted(tuple(r) for r in mpp.sql("SELECT k, v FROM gu").collect())
    assert got == [(1, "a"), (40, "b")]


def test_insert_sees_moved_unique_value(mpp):
    """After UPDATE moves (2,'b') to (40,'b'), INSERT k=40 routes to the
    moved row's bucket and is rejected (review r6)."""
    mpp.sql(
        "CREATE TABLE gi(k INT UNIQUE, v TEXT) PARTITION BY (k) WITH BUCKETS 8"
    )
    assert mpp.sql("INSERT INTO gi VALUES (1, 'a'), (2, 'b')") == 2
    assert mpp.sql("UPDATE gi SET k = 40 WHERE k = 2") == 1
    with pytest.raises(ValueError, match="unique constraint"):
        mpp.sql("INSERT INTO gi VALUES (40, 'dup')")
    # non-colliding values insert fine
    assert mpp.sql("INSERT INTO gi VALUES (7, 'c')") == 1
    got = sorted(tuple(r) for r in mpp.sql("SELECT k, v FROM gi").collect())
    assert got == [(1, "a"), (7, "c"), (40, "b")]
    # the constraint still holds after OPTIMIZE
    mpp.sql("OPTIMIZE gi")
    with pytest.raises(ValueError, match="unique constraint"):
        mpp.sql("INSERT INTO gi VALUES (40, 'dup2')")


def test_composite_key_upsert_cannot_shadow_global_unique(spark, mpp):
    """With a COMPOSITE upsert key, a moved row sharing the partition value
    but differing on the other key field is not replaced (the full-key
    match fails), and it shares the batch row's bucket, so the check
    rejects the merge (review r6, live repro)."""
    mpp.sql(
        "CREATE TABLE cgu(k INT UNIQUE, v TEXT) PARTITION BY (k) WITH BUCKETS 8"
    )
    assert mpp.sql("INSERT INTO cgu VALUES (1, 'a'), (2, 'b')") == 2
    assert mpp.sql("UPDATE cgu SET k = 40 WHERE k = 2") == 1
    tbl = mpp.table("cgu")
    batch = spark.createDataFrame([(40, "x")], "k int, v string")
    with pytest.raises(ValueError, match="unique constraint"):
        dml.upsert(tbl, batch, ["k", "v"])
    # rejected merge leaves the table untouched
    got = sorted(tuple(r) for r in mpp.sql("SELECT k, v FROM cgu").collect())
    assert got == [(1, "a"), (40, "b")]
    # the same batch with the FULL matching key replaces instead
    batch = spark.createDataFrame([(40, "b")], "k int, v string")
    assert dml.upsert(tbl, batch, ["k", "v"]) == 1
    got = sorted(tuple(r) for r in mpp.sql("SELECT k, v FROM cgu").collect())
    assert got == [(1, "a"), (40, "b")]


def test_moving_update_checks_unassigned_unique_column(mpp):
    """UNIQUE on a non-partition column is per bucket. A moving UPDATE
    carries the row's UNASSIGNED ``u`` into its new bucket; a duplicate
    there rejects it and the head stays put."""
    mpp.sql(
        "CREATE TABLE mu(k INT, u INT UNIQUE) PARTITION BY (k) WITH BUCKETS 8"
    )
    tbl = mpp.table("mu")
    by_bucket = {}
    for k in range(1, 200):
        by_bucket.setdefault(bucket_of(tbl, str(k)), []).append(k)
    x, z = next(ks[:2] for ks in by_bucket.values() if len(ks) > 1)
    y = next(k for k in range(1, 200) if bucket_of(tbl, str(k)) != bucket_of(tbl, str(x)))
    # u = 20 twice, in different buckets: allowed per bucket
    mpp.sql(f"INSERT INTO mu VALUES ({x}, 20), ({y}, 20), ({y + 1000}, 30)")
    head = tbl.snapshot()[0]
    with pytest.raises(ValueError, match="unique constraint"):
        mpp.sql(f"UPDATE mu SET k = {z} WHERE k = {y}")
    assert tbl.snapshot()[0] == head
    assert sorted(rows(mpp.sql("SELECT k, u FROM mu"))) == sorted(
        [(x, 20), (y, 20), (y + 1000, 30)]
    )
    # moving a row whose u is free in the target bucket works
    assert mpp.sql(f"UPDATE mu SET k = {z} WHERE k = {y + 1000}") == 1
    assert rows(mpp.sql(f"SELECT u FROM mu WHERE k = {z}")) == [(30,)]


def test_dml_rewrites_only_pruned_buckets_after_partition_update(spark, mpp):
    """After a partition-column UPDATE, UPDATE/DELETE still rewrite only
    the buckets their WHERE prunes to (review r6: no write amplification),
    and a pruned UPDATE/DELETE of the moved row reaches it."""
    mpp.sql("CREATE TABLE dm(k INT, v TEXT) PARTITION BY (k) WITH BUCKETS 8")
    mpp.sql("INSERT INTO dm VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    mpp.sql("UPDATE dm SET k = 40 WHERE k = 2")
    tbl = mpp.table("dm")
    # unrelated-key UPDATE: every other bucket's files survive untouched
    before = _files_outside(tbl, bucket_of(tbl, "1"))
    assert mpp.sql("UPDATE dm SET v = 'A' WHERE k = 1") == 1
    assert _files_outside(tbl, bucket_of(tbl, "1")) == before
    assert mpp.sql("UPDATE dm SET v = upper(v) WHERE k = 40") == 1
    got = sorted(tuple(r) for r in mpp.sql("SELECT k, v FROM dm").collect())
    assert got == [(1, "A"), (3, "c"), (40, "B")]
    assert mpp.sql("DELETE FROM dm WHERE k = 40") == 1
    got = sorted(tuple(r) for r in mpp.sql("SELECT k, v FROM dm").collect())
    assert got == [(1, "A"), (3, "c")]


# --- snapshots written before exact routing ----------------------------------

def test_misrouted_legacy_snapshot_refused_until_optimize(mpp):
    """A version doc with a non-empty ``dirty`` list (written while a
    partition-column UPDATE still left rows in their old bucket) holding a
    misplaced row: every read, time-travel read and write of it raises a
    named error that says to run OPTIMIZE; OPTIMIZE re-routes it."""
    mpp.sql("CREATE TABLE lg(k INT, v TEXT) PARTITION BY (k) WITH BUCKETS 8")
    mpp.sql("INSERT INTO lg VALUES (3, 'c'), (5, 'e')")
    tbl = mpp.table("lg")
    old, moved = 3, 77
    assert bucket_of(tbl, str(old)) != bucket_of(tbl, str(moved))
    # (77, 'moved') left in bucket(3), as the old shard-local UPDATE did
    b = bucket_of(tbl, str(old))
    rel = f"__bucket={b}/part-legacy.parquet"
    pq.write_table(
        pa.table({"k": pa.array([moved], pa.int32()), "v": ["moved"]}),
        os.path.join(tbl.path, rel),
    )
    base, files = tbl.snapshot()
    entry = manifest.file_entry(os.path.join(tbl.path, rel), None)
    legacy = manifest.commit(tbl.path, {**files, rel: entry}, base)
    doc_path = manifest._version_file(tbl.path, legacy)
    with open(doc_path) as f:
        doc = json.load(f)
    doc["dirty"] = [b]
    with open(doc_path, "w") as f:
        json.dump(doc, f)

    for attempt in (
        lambda: mpp.sql(f"SELECT * FROM lg WHERE k = {moved}").collect(),
        lambda: mpp.sql("SELECT count(*) FROM lg").collect(),
        lambda: tbl.scan(version=legacy).collect(),
        lambda: mpp.sql(f"UPDATE lg SET v = 'x' WHERE k = {old}"),
        lambda: mpp.sql("DELETE FROM lg WHERE k = 5"),
        lambda: mpp.sql("INSERT INTO lg VALUES (9, 'i')"),
    ):
        with pytest.raises(MisroutedSnapshot, match="OPTIMIZE lg"):
            attempt()
    assert manifest.current_version(tbl.path) == legacy

    mpp.sql("OPTIMIZE lg")
    assert rows(mpp.sql(f"SELECT k, v FROM lg WHERE k = {moved}")) == [(moved, "moved")]
    assert _shards(mpp, f"SELECT * FROM lg WHERE k = {moved}") == "Shards: 1/8"
    assert sorted(rows(mpp.sql("SELECT k, v FROM lg"))) == [
        (3, "c"), (5, "e"), (moved, "moved")
    ]
    # the version before OPTIMIZE stays refused
    with pytest.raises(MisroutedSnapshot):
        tbl.scan(version=legacy).collect()
