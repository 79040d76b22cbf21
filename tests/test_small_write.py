"""The two arms of ``REGIMES["small_write"]`` write the same files.

A VALUES batch folds to a local relation, so ``DistributedTable.insert``
collects it and writes each bucket's rows with pyarrow (``driver``); the
forced ``spark`` arm writes the same batch with a shuffle-and-write job.
Both tables must read back alike in Spark and in DuckDB — types, values and
each bucket file's SORT BY order — over the DDL fixture's types
(``tests/test_ddl_property.py``) plus nested types and NULLs. The Python
process runs in a DST zone while they are written: ``collect()`` hands
TIMESTAMPs back as local wall times, and the files must still hold the
instants Spark had.
"""

import os
import time

import duckdb
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from duckdb_mpp_spark import table
from tests.conftest import bucket_of, count_jobs

SCHEMA = T.StructType([
    T.StructField("k", T.IntegerType()),
    T.StructField("n", T.LongType()),
    T.StructField("sm", T.ShortType()),
    T.StructField("d", T.DoubleType()),
    T.StructField("s", T.StringType(), False),
    T.StructField("b", T.BooleanType()),
    T.StructField("dt", T.DateType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("dec", T.DecimalType(18, 4)),
    T.StructField("arr", T.ArrayType(T.TimestampType())),
    T.StructField("st", T.StructType([
        T.StructField("x", T.IntegerType()),
        T.StructField("y", T.DecimalType(18, 4)),
        T.StructField("z", T.TimestampType()),
    ])),
    T.StructField("m", T.MapType(T.StringType(), T.ArrayType(T.IntegerType()))),
    # the other types the driver arm takes (table._ARROW_PLAIN)
    T.StructField("ntz", T.TimestampNTZType()),
    T.StructField("f", T.FloatType()),
    T.StructField("by", T.ByteType()),
    T.StructField("bin", T.BinaryType()),
])

# 05:30 and 06:30 UTC on 2024-11-03 are both 01:30 in New York (the DST
# fold); 07:30 UTC on 2024-03-10 is just past the spring-forward gap.
ROWS = [
    "(1, 10, 1, 2.5, 'a', true, DATE '2024-01-01', TIMESTAMP '2024-11-03 05:30:00',"
    " 1.5, array(TIMESTAMP '2024-03-10 07:30:00'),"
    " named_struct('x', 1, 'y', 2.25, 'z', TIMESTAMP '2024-11-03 06:30:00'),"
    " map('a', array(1, NULL)),"
    " TIMESTAMP_NTZ '2024-11-03 01:30:00', CAST(1.5 AS FLOAT), CAST(-128 AS TINYINT), X'00FF')",
    "(1, NULL, NULL, double('NaN'), 'b', NULL, NULL, TIMESTAMP '2024-11-03 06:30:00',"
    " NULL, NULL, NULL, NULL,"
    " NULL, CAST('NaN' AS FLOAT), NULL, NULL)",
    "(1, 12, -3, NULL, 'c', false, DATE '1969-12-31',"
    " TIMESTAMP '1969-12-31 23:59:59.999999', -12345.6789, array(NULL),"
    " named_struct('x', NULL, 'y', NULL, 'z', NULL), map('z', NULL),"
    " TIMESTAMP_NTZ '1969-12-31 23:59:59.999999', NULL, CAST(127 AS TINYINT), X'')",
    "(1, 13, 4, -1.0, 'd', true, DATE '2000-02-29', NULL, 0, array(),"
    " NULL, map(),"
    " NULL, CAST(-0.25 AS FLOAT), CAST(0 AS TINYINT), X'41')",
    "(2, 20, 2, 7.0, 'e', false, DATE '2024-06-01', TIMESTAMP '2024-06-01 12:00:00.000001',"
    " 99999999999999.9999, array(TIMESTAMP '2000-01-01 00:00:00', NULL),"
    " named_struct('x', 2, 'y', -0.0001, 'z', TIMESTAMP '2038-01-19 03:14:08'),"
    " map('b', array(), 'c', array(3)),"
    " TIMESTAMP_NTZ '2024-03-10 02:30:00', CAST(3 AS FLOAT), NULL, NULL)",
    "(NULL, 30, 3, double('NaN'), 'f', NULL, DATE '2024-06-02', NULL, 3.25, NULL,"
    " NULL, NULL,"
    " NULL, NULL, NULL, NULL)",
    "(7, 70, 7, double('-Infinity'), 'g', true, DATE '2024-06-03',"
    " TIMESTAMP '2024-03-10 07:30:00', 7, NULL, NULL, NULL,"
    " NULL, NULL, NULL, NULL)",
]


@pytest.fixture()
def new_york():
    """The Python process (not Spark's session) in a zone with DST."""
    saved = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        yield
    finally:
        if saved is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = saved
        time.tzset()


def _files(tbl):
    return sorted(os.path.join(tbl.path, rel) for rel in tbl.snapshot_files())


def _by_bucket(tbl, column):
    """Per bucket: ``column``'s values in file order (one file a bucket)."""
    con = duckdb.connect()
    out = {}
    for rel in sorted(tbl.snapshot_files()):
        path = os.path.join(tbl.path, rel)
        out[rel.split("/", 1)[0]] = [
            repr(r[0])
            for r in con.execute(f"SELECT {column} FROM read_parquet('{path}')").fetchall()
        ]
    return out


def _spark_order(text):
    """Spark's ascending order of a ``repr``'d DOUBLE: nulls first, NaN last."""
    if text == "None":
        return (0, 0.0)
    return (2, 0.0) if text == "nan" else (1, float(text))


def test_driver_and_spark_arms_write_the_same_files(spark, mpp, monkeypatch, new_york):
    values = ", ".join(ROWS)
    for name in ("drv", "spk"):
        mpp.create_distributed_table(name, SCHEMA, "k", 4, sort_column="d")
    with count_jobs(spark) as jobs:
        assert mpp.sql(f"INSERT INTO drv VALUES {values}") == len(ROWS)
    assert jobs == [0]  # the driver arm
    with monkeypatch.context() as m:
        m.setitem(table._FORCED, "small_write", "spark")
        with count_jobs(spark) as jobs:
            assert mpp.sql(f"INSERT INTO spk VALUES {values}") == len(ROWS)
    assert jobs[0] > 0
    drv, spk = mpp.table("drv"), mpp.table("spk")

    # Spark: the same rows (repr: NaN never equals itself), and the same
    # instants rendered in the session zone
    def spark_rows(name):
        return sorted(repr(tuple(r)) for r in mpp.sql(f"SELECT * FROM {name}").collect())

    assert spark_rows("drv") == spark_rows("spk")
    instants = "SELECT CAST(ts AS STRING) AS v FROM {} WHERE k = 1 ORDER BY s"
    got = [r[0] for r in mpp.sql(instants.format("drv")).collect()]
    assert got == [
        "2024-11-03 05:30:00", "2024-11-03 06:30:00",
        "1969-12-31 23:59:59.999999", None,
    ]
    assert got == [r[0] for r in mpp.sql(instants.format("spk")).collect()]

    # DuckDB: same column types, same values
    con = duckdb.connect()

    def duck(tbl):
        src = f"read_parquet({_files(tbl)!r})"
        types = [r[:2] for r in con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()]
        rows = sorted(repr(r) for r in con.execute(f"SELECT * FROM {src}").fetchall())
        return types, rows

    assert duck(drv) == duck(spk)
    assert dict(duck(drv)[0])["ts"] == "TIMESTAMP WITH TIME ZONE"

    # one file a bucket, each in SORT BY order: nulls first, NaN last
    files = _by_bucket(drv, "d")
    assert files == _by_bucket(spk, "d")
    in_k1 = files[f"__bucket={bucket_of(drv, '1')}"]
    assert {"None", "nan", "-1.0"} <= set(in_k1)
    for vals in files.values():
        assert vals == sorted(vals, key=_spark_order)
    # no ARROW:schema footer (it grows a one-row file by a third)
    for path in _files(drv):
        assert b"ARROW:schema" not in (pq.read_metadata(path).metadata or {})


def test_driver_arm_rejects_null_without_a_job(spark, mpp):
    mpp.sql("CREATE TABLE nn(k INT, s TEXT NOT NULL) PARTITION BY (k) WITH BUCKETS 4")
    head = mpp.table("nn").snapshot()[0]
    with count_jobs(spark) as jobs:
        with pytest.raises(Exception, match="NOT NULL constraint failed"):
            mpp.sql("INSERT INTO nn VALUES (1, 'a'), (2, NULL)")
    assert jobs == [0]
    assert mpp.table("nn").snapshot()[0] == head


def test_only_local_batches_take_the_driver_arm(spark, mpp, monkeypatch):
    """A batch that is not a local relation stays on the Spark write even
    with the driver arm forced; a VALUES batch past the bound does too."""
    mpp.sql("CREATE TABLE lb(k INT, v INT) PARTITION BY (k) WITH BUCKETS 4")
    tbl = mpp.table("lb")
    written = []
    real = table.DistributedTable._write_collected
    monkeypatch.setattr(
        table.DistributedTable, "_write_collected",
        lambda self, batch, tmp: written.append(len(batch)) or real(self, batch, tmp),
    )
    with monkeypatch.context() as m:
        m.setitem(table._FORCED, "small_write", "driver")
        assert tbl.insert(spark.range(5).selectExpr("CAST(id AS INT) k", "1 v")) == 5
    assert written == []
    assert mpp.sql("INSERT INTO lb VALUES (1, 1), (2, 2)") == 2
    assert written == [2]
    with monkeypatch.context() as m:
        m.setitem(table.REGIMES, "small_write", (("driver", 1), ("spark", None)))
        assert mpp.sql("INSERT INTO lb VALUES (3, 3)") == 1
    assert written == [2]
    assert sorted(tuple(r) for r in mpp.sql("SELECT * FROM lb").collect()) == [
        (0, 1), (1, 1), (1, 1), (2, 1), (2, 2), (3, 1), (3, 3), (4, 1)
    ]


def test_nan_rows_survive_range_reads_on_both_arms(mpp, monkeypatch):
    """Arrow leaves NaN out of a DOUBLE column's footer min/max, while Spark
    orders NaN above every value: a driver-written file that holds a NaN
    carries no stats for that column, or ``d > 3`` would skip its NaN rows
    (in the zone maps and in Spark's row-group filter alike)."""
    values = "(1, 2.5, 1.0), (1, double('NaN'), 2.0), (2, -1.0, double('NaN'))"
    for name, arm in (("nd", "driver"), ("ns", "spark")):
        mpp.sql(
            f"CREATE TABLE {name}(k INT, d DOUBLE, e DOUBLE) PARTITION BY (k) "
            "WITH BUCKETS 4 SORT BY (d)"
        )
        with monkeypatch.context() as m:
            m.setitem(table._FORCED, "small_write", arm)
            assert mpp.sql(f"INSERT INTO {name} VALUES {values}") == 3
        tbl = mpp.table(name)
        unpruned = tbl._read_files(tbl.snapshot_files()).select("k", "d", "e")
        # 2.5 and 1.0 are the largest finite values of d and e
        for where in ("d > 3", "e > 2.5", "d > 2.5 AND e > 1.0"):
            want = sorted(repr(tuple(r)) for r in unpruned.where(where).collect())
            assert want, where
            for got in (
                mpp.sql(f"SELECT k, d, e FROM {name} WHERE {where}"),
                tbl.scan(where=where).select("k", "d", "e"),
            ):
                assert sorted(repr(tuple(r)) for r in got.collect()) == want, (arm, where)
