"""Port of test/sql/mpp_delete.test — copy-on-write DELETE parity."""

import datetime

import pytest

from tests.conftest import bucket_files, bucket_of, input_paths, rows


@pytest.fixture()
def session(mpp):
    mpp.sql(
        "CREATE TABLE test_delete(create_date DATE, name TEXT) "
        "PARTITION BY(create_date) WITH BUCKETS 6"
    )
    return mpp


def d(s):
    return datetime.date.fromisoformat(s)


INSERT = (
    "INSERT INTO test_delete VALUES('2025-01-01', 'alex'), ('2025-01-02', 'jack'), "
    "('2025-01-03', 'jason'), ('2025-01-04', 'tom')"
)


def test_delete_flow(session):
    # delete on empty table (test/sql/mpp_delete.test:38-39)
    assert session.sql("DELETE FROM test_delete") == 0

    # insert + delete-all (:41-47)
    session.sql(INSERT)
    assert session.sql("DELETE FROM test_delete") == 4
    assert rows(session.sql("SELECT count(1) AS n FROM test_delete")) == [(0,)]

    # re-insert (:49-58)
    session.sql(INSERT)

    # WHERE on non-partition column (:60-67)
    assert session.sql("DELETE FROM test_delete WHERE name='alex'") == 1
    got = rows(session.sql("SELECT create_date, name FROM test_delete ORDER BY create_date"))
    assert got == [(d("2025-01-02"), "jack"), (d("2025-01-03"), "jason"), (d("2025-01-04"), "tom")]

    # `=` on partition column — pruned (:69-75)
    assert session.sql("DELETE FROM test_delete WHERE create_date='2025-01-03'") == 1
    got = rows(session.sql("SELECT create_date, name FROM test_delete ORDER BY create_date"))
    assert got == [(d("2025-01-02"), "jack"), (d("2025-01-04"), "tom")]

    # range (:77-82)
    assert (
        session.sql(
            "DELETE FROM test_delete WHERE create_date>'2025-01-01' and create_date<'2025-01-04'"
        )
        == 1
    )
    got = rows(session.sql("SELECT create_date, name FROM test_delete ORDER BY create_date"))
    assert got == [(d("2025-01-04"), "tom")]

    # expression filter (:84-93)
    assert session.sql("DELETE FROM test_delete WHERE upper(name)='TOM'") == 1
    assert rows(session.sql("SELECT count(1) AS n FROM test_delete")) == [(0,)]


def test_keyed_delete_reads_and_rewrites_only_its_bucket(session, dml_scans):
    # both listing arms: the default bound stats the scan's file list on
    # the driver (no job), bound 0 hands it to Spark's listing job
    from duckdb_mpp_spark.table import DRIVER_LISTING_FILES

    session.sql(INSERT)
    tbl = session.table("test_delete")
    for bound, day in ((DRIVER_LISTING_FILES, "2025-01-03"), (0, "2025-01-04")):
        files = tbl.snapshot_files()
        with dml_scans(bound) as scans:
            assert session.sql(f"DELETE FROM test_delete WHERE create_date='{day}'") == 1
        bucket = bucket_of(tbl, f"'{day}'")
        [(ids, df, jobs)] = scans
        assert ids == [bucket]
        assert input_paths(df) == bucket_files(tbl, files, bucket)
        assert (jobs == 0) == (bound > 0), (bound, jobs)
        other = f"__bucket={bucket}/"
        after = tbl.snapshot_files()
        assert {r for r in after if not r.startswith(other)} == {
            r for r in files if not r.startswith(other)
        }
    got = rows(session.sql("SELECT create_date, name FROM test_delete ORDER BY create_date"))
    assert got == [(d("2025-01-01"), "alex"), (d("2025-01-02"), "jack")]
