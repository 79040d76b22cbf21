import shutil
import tempfile
import uuid
from contextlib import contextmanager

import pytest

from duckdb_mpp_spark.mpp import MppSession
from duckdb_mpp_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="mpp-tests", shuffle_partitions=8)
    yield spark


@pytest.fixture()
def shadow_views(spark):
    """Register crafted frames under FIXTURE table names, then restore.

    Teardown drops the temp views and invalidates register_views'
    idempotence key (`duckdb_mpp_spark.registered_sf_dir`) so the next
    gate query re-registers the real parquet tables. Without this, a
    shadowed `events` view leaks into every later run_spark_query in the
    session-scoped SparkSession — register_views sees the cached sf_dir
    and skips re-registration, so an unrelated gate test silently runs on
    the crafted frame (observed: r7b's NULL-events frame broke
    test_sketches' verdict assertions two files later).
    """
    shadowed = set()

    def shadow(name, df):
        df.createOrReplaceTempView(name)
        shadowed.add(name)

    yield shadow
    for name in shadowed:
        spark.catalog.dropTempView(name)
    if shadowed:
        try:
            spark.conf.unset("duckdb_mpp_spark.registered_sf_dir")
        except Exception:
            pass


@pytest.fixture()
def mpp(spark):
    wh = tempfile.mkdtemp(prefix="mpp_wh_")
    yield MppSession(spark, wh)
    shutil.rmtree(wh, ignore_errors=True)


def rows(df, *order_cols):
    """Collect to plain tuples, optionally ordered (sqllogictest style)."""
    if order_cols:
        df = df.orderBy(*order_cols)
    return [tuple(r) for r in df.collect()]


@contextmanager
def count_jobs(spark):
    """Count the Spark jobs the block runs: yields a one-item list that
    holds the count once the block exits."""
    sc = spark.sparkContext
    # unique per call: pytest may load this module twice (as the conftest
    # and as ``tests.conftest``), so a module-level counter could repeat
    group = f"job-probe-{uuid.uuid4().hex}"
    out = []
    sc.setJobGroup(group, group)
    try:
        yield out
    finally:
        sc.setJobGroup("", "")
        out.append(len(sc.statusTracker().getJobIdsForGroup(group)))


@pytest.fixture()
def dml_scans(monkeypatch):
    """``with dml_scans(bound) as scans:`` runs the block with the
    driver-listing bound (``table.DRIVER_LISTING_FILES``) set to ``bound``
    and records every frame COW DML reads through
    ``DistributedTable.read_buckets`` as ``(ids, frame, jobs)``, ``jobs``
    being the Spark jobs the reader build ran. Bound 0 sends every file
    list to Spark's distributed listing job."""
    from duckdb_mpp_spark import table as table_mod

    real = table_mod.DistributedTable.read_buckets

    @contextmanager
    def capture(bound):
        scans = []

        def spy(self, files, ids=None):
            with count_jobs(self.spark) as jobs:
                df = real(self, files, ids)
            scans.append((ids, df, jobs[0]))
            return df

        with monkeypatch.context() as m:
            m.setattr(table_mod, "DRIVER_LISTING_FILES", bound)
            m.setattr(table_mod.DistributedTable, "read_buckets", spy)
            yield scans

    return capture


def bucket_files(tbl, files, bucket):
    """Absolute paths of snapshot ``files`` in bucket ``bucket``."""
    import os

    return {
        os.path.join(tbl.path, rel)
        for rel in files
        if rel.startswith(f"__bucket={bucket}/")
    }


def bucket_of(tbl, literal: str) -> int:
    """The bucket the routing expression sends SQL ``literal`` to,
    computed by Spark directly (independent of the pruning code)."""
    return tbl.spark.sql(
        f"SELECT pmod(hash(CAST({literal} AS {tbl._part_type_ddl})), "
        f"{tbl.meta.buckets})"
    ).collect()[0][0]


def input_paths(df):
    """``df.inputFiles()`` as plain local paths."""
    from urllib.parse import urlparse

    return {urlparse(u).path for u in df.inputFiles()}
