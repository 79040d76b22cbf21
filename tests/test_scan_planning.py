"""Scan planning runs no Spark job.

A distributed-table read or COW DML scan is built from the snapshot
manifest alone: bucket ids are folded on the driver
(``pruning.evaluate_bucket_ids``), the reader gets the catalog schema
instead of inferring it from footers, and an explicit file list up to
``table.DRIVER_LISTING_FILES`` is stat'ed on the driver instead of by
Spark's parallel listing job (which Spark launches past 32 paths). Each
test counts the jobs run while a frame is BUILT, in the
``getJobIdsForGroup(...) == []`` pattern of the load_table schema cache
test, and checks the built frame's values.
"""

import os

import pytest

from duckdb_mpp_spark import pruning
from duckdb_mpp_spark import table as table_mod
from duckdb_mpp_spark.pruning import bucket_predicate_for_where
from tests.conftest import bucket_files, count_jobs, input_paths, rows


@pytest.fixture()
def many_files(mpp):
    """A 12-bucket table over more than 32 files (four 40-key inserts,
    one file per bucket each)."""
    mpp.sql("CREATE TABLE pf(k INT, v TEXT) PARTITION BY (k) WITH BUCKETS 12")
    for i in range(4):
        keys = range(40 * i, 40 * i + 40)
        mpp.sql("INSERT INTO pf VALUES " + ", ".join(f"({k}, 'v{k}')" for k in keys))
    tbl = mpp.table("pf")
    assert 32 < len(tbl.snapshot_files()) <= table_mod.DRIVER_LISTING_FILES
    return tbl


@pytest.mark.parametrize(
    "ptype, where",
    [
        ("int", "k = 5"),
        ("int", "k IN (1, 2, 3, 40)"),
        ("int", "k IS NULL"),
        ("int", "k = 1 OR k = 7"),
        ("bigint", "k = -9"),
        ("string", "k = 'abc'"),
        ("date", "k = DATE '2025-01-01'"),
        ("date", "k = '2025-01-03'"),
        ("decimal(10,2)", "k = 1.5"),
        ("timestamp", "k = TIMESTAMP '2024-01-01 10:00:00'"),
    ],
)
def test_evaluate_bucket_ids_runs_no_job(spark, ptype, where):
    pred = bucket_predicate_for_where(where, "k", ptype, 12)
    assert pred is not None
    # the same predicate evaluated by a Spark job over the id domain
    want = sorted(
        r[0]
        for r in spark.range(12)
        .selectExpr("CAST(id AS INT) AS __bucket")
        .where(pred)
        .collect()
    )
    with count_jobs(spark) as jobs:
        got = pruning.evaluate_bucket_ids(spark, pred, 12)
    assert jobs == [0]
    assert got == want


def test_pruned_frontdoor_point_read_builds_without_jobs(spark, mpp, many_files):
    with count_jobs(spark) as jobs:
        df = mpp.sql("SELECT k, v FROM pf WHERE k = 5")
    assert jobs == [0]
    assert rows(df) == [(5, "v5")]


def test_read_files_past_spark_listing_threshold_runs_no_job(spark, many_files):
    tbl = many_files
    files = tbl.snapshot_files()
    with count_jobs(spark) as jobs:
        df = tbl._read_files(files)
    assert jobs == [0]
    # same frame as Spark's own listing and footer inference produce
    inferred = spark.read.option("basePath", tbl.path).parquet(
        *sorted(os.path.join(tbl.path, rel) for rel in files)
    )
    assert df.schema == inferred.schema
    assert sorted(rows(df)) == sorted(rows(inferred))
    assert len(rows(df)) == 160


def test_keyed_update_bucket_selection_and_scan_run_no_job(spark, many_files):
    tbl = many_files
    _base, files = tbl.snapshot()
    with count_jobs(spark) as jobs:
        ids = tbl.pruned_bucket_ids("k = 5")
        df = tbl.read_buckets(files, ids)
    assert jobs == [0]
    assert len(ids) == 1
    assert input_paths(df) == bucket_files(tbl, files, ids[0])
    assert (5, "v5", ids[0]) in rows(df)


def test_plain_select_does_not_build_system_views(mpp, many_files, monkeypatch):
    def fail(_spark):
        raise AssertionError("system views built for a plain SELECT")

    monkeypatch.setattr(mpp.catalog, "register_system_views", fail)
    assert rows(mpp.sql("SELECT count(*) AS n FROM pf")) == [(160,)]
