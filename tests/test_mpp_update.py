"""Port of test/sql/mpp_update.test — copy-on-write UPDATE parity."""

import datetime

import pytest

from tests.conftest import bucket_files, bucket_of, input_paths, rows


@pytest.fixture()
def session(mpp):
    mpp.master_add_node("127.0.0.1", 23456)
    mpp.master_add_node("127.0.0.1", 34567)
    mpp.sql(
        "CREATE TABLE test_update(create_date DATE, name TEXT) "
        "PARTITION BY(create_date) WITH BUCKETS 6"
    )
    mpp.sql(
        "INSERT INTO test_update VALUES('2025-01-01', 'alex'), ('2025-01-02', 'jack'), "
        "('2025-01-03', 'jason'), ('2025-01-04', 'tom')"
    )
    return mpp


def d(s):
    return datetime.date.fromisoformat(s)


def test_targeted_update(session):
    # test/sql/mpp_update.test:41-49
    assert session.sql("UPDATE test_update SET name='Alex' WHERE create_date='2025-01-01'") == 1
    got = rows(session.sql("SELECT create_date, name FROM test_update ORDER BY create_date"))
    assert got == [
        (d("2025-01-01"), "Alex"),
        (d("2025-01-02"), "jack"),
        (d("2025-01-03"), "jason"),
        (d("2025-01-04"), "tom"),
    ]


def test_full_table_function_update(session):
    # test/sql/mpp_update.test:52-60
    assert session.sql("UPDATE test_update SET name=upper(name)") == 4
    got = rows(session.sql("SELECT create_date, name FROM test_update ORDER BY create_date"))
    assert [n for _, n in got] == ["ALEX", "JACK", "JASON", "TOM"]


def test_multi_column_default_and_date_arith(session):
    # test/sql/mpp_update.test:63-71: SET name=DEFAULT (no declared default →
    # NULL), create_date=create_date+1 — note the partition column itself is
    # updated; the reference keeps the row on its shard, this port moves it
    # to the bucket its new value hashes to (same SQL result).
    session.sql("UPDATE test_update SET name=upper(name)")
    n = session.sql(
        "UPDATE test_update SET name=DEFAULT, create_date=create_date+1 "
        "WHERE create_date>'2025-01-03'"
    )
    assert n == 1
    got = rows(session.sql("SELECT create_date, name FROM test_update ORDER BY create_date"))
    assert got == [
        (d("2025-01-01"), "ALEX"),
        (d("2025-01-02"), "JACK"),
        (d("2025-01-03"), "JASON"),
        (d("2025-01-05"), None),
    ]


def test_update_with_declared_default(mpp):
    # DEFAULT resolves to the declared column default (ResolveDefaults
    # parity, src/execution/mpp_physical_insert.cpp:150-181).
    mpp.sql(
        "CREATE TABLE td(id INT, name TEXT DEFAULT 'anon') PARTITION BY(id) WITH BUCKETS 4"
    )
    mpp.sql("INSERT INTO td VALUES (1, 'a'), (2, 'b')")
    assert mpp.sql("UPDATE td SET name=DEFAULT WHERE id=1") == 1
    got = rows(mpp.sql("SELECT id, name FROM td ORDER BY id"))
    assert got == [(1, "anon"), (2, "b")]


def test_update_only_rewrites_pruned_buckets(session, dml_scans):
    """The COW win: an UPDATE with an `=` predicate on the partition column
    must touch only 1/6 bucket directories (the reference sends UPDATE SQL
    only to surviving shards, src/execution/mpp_physical_update.cpp:79-119).
    Both listing arms: the default bound stats the scan's file list on the
    driver (no job), bound 0 hands it to Spark's listing job; either way
    the scan lists only the updated bucket's files."""
    import os

    from duckdb_mpp_spark.table import DRIVER_LISTING_FILES

    tbl = session.table("test_update")
    for bound, day in ((DRIVER_LISTING_FILES, "2025-01-01"), (0, "2025-01-02")):
        before = {}
        for bdir in os.listdir(tbl.path):
            if bdir.startswith("__bucket="):
                p = os.path.join(tbl.path, bdir)
                before[bdir] = max(os.path.getmtime(os.path.join(p, f)) for f in os.listdir(p))
        files = tbl.snapshot_files()
        with dml_scans(bound) as scans:
            n = session.sql(f"UPDATE test_update SET name='X' WHERE create_date='{day}'")
        assert n == 1
        changed = []
        for bdir in os.listdir(tbl.path):
            if bdir.startswith("__bucket="):
                p = os.path.join(tbl.path, bdir)
                mtime = max(os.path.getmtime(os.path.join(p, f)) for f in os.listdir(p))
                if bdir not in before or mtime != before[bdir]:
                    changed.append(bdir)
        bucket = bucket_of(tbl, f"'{day}'")
        assert changed == [f"__bucket={bucket}"], changed
        [(ids, df, jobs)] = scans
        assert ids == [bucket]
        assert input_paths(df) == bucket_files(tbl, files, bucket)
        assert (jobs == 0) == (bound > 0), (bound, jobs)
    got = rows(session.sql("SELECT create_date, name FROM test_update ORDER BY create_date"))
    assert got == [
        (d("2025-01-01"), "X"),
        (d("2025-01-02"), "X"),
        (d("2025-01-03"), "jason"),
        (d("2025-01-04"), "tom"),
    ]
