"""The one staged-write path (``DistributedTable._staged`` + ``_commit``):
a statement that fails moves no head and leaves no staging directory, and
each verb on a plain table runs no more Spark jobs than its budget."""

import os

import pytest

from tests.conftest import count_jobs, rows

# verb -> (statement, the error it must fail with)
FAILING = {
    "update": (
        lambda mpp: mpp.sql("UPDATE sw SET v = raise_error('boom') WHERE id = 1"),
        "boom",
    ),
    "delete": (
        lambda mpp: mpp.sql("DELETE FROM sw WHERE assert_true(id < 0) IS NULL"),
        "is not true",
    ),
    "upsert": (
        lambda mpp: mpp.upsert(
            "sw",
            mpp.spark.createDataFrame([(1, None, 5)], "id INT, tag STRING, v INT"),
            ["id"],
        ),
        "NOT NULL constraint failed",
    ),
    "insert": (
        lambda mpp: mpp.sql("INSERT INTO sw VALUES (4, NULL, 40)"),
        "NOT NULL constraint failed",
    ),
}


@pytest.mark.parametrize("verb", sorted(FAILING))
def test_failed_statement_keeps_head_and_leaves_no_stage(mpp, verb):
    mpp.sql(
        "CREATE TABLE sw(id INT, tag TEXT NOT NULL, v INT) "
        "PARTITION BY (id) WITH BUCKETS 4"
    )
    mpp.sql("INSERT INTO sw VALUES (1, 'a', 10), (2, 'b', 20), (3, 'c', 30)")
    tbl = mpp.table("sw")
    head = tbl.snapshot()[0]
    run, error = FAILING[verb]
    with pytest.raises(Exception, match=error):
        run(mpp)
    assert tbl.snapshot()[0] == head
    # nothing named after the table beside it: no stage of any kind
    name = os.path.basename(tbl.path)
    beside = os.listdir(os.path.dirname(tbl.path))
    assert [d for d in beside if d.startswith(name)] == [name]
    assert rows(mpp.sql("SELECT id, tag, v FROM sw"), "id") == [
        (1, "a", 10), (2, "b", 20), (3, "c", 30)
    ]


# Spark jobs per statement on a plain 12-bucket SORT BY table, as measured
# when every verb still had its own copy of the write path: sharing one
# path must not add a job to any of them. A VALUES INSERT runs none: the
# driver collects the folded batch and writes it (REGIMES["small_write"]);
# into a table with a UNIQUE column it runs only the duplicate check's.
# INSERT ... SELECT keeps the Spark write's two.
JOB_BUDGET = {
    "insert": 0, "insert_select": 2, "update": 2, "delete": 2, "upsert": 8,
    "optimize": 2, "insert_unique": 2,
}


def test_plain_table_write_job_counts(spark, mpp):
    for name, u in (("jc", "u INT"), ("ju", "u INT UNIQUE")):
        mpp.sql(
            f"CREATE TABLE {name}(k INT, {u}, v INT, d INT) PARTITION BY (k) "
            "WITH BUCKETS 12 SORT BY (d)"
        )
        mpp.sql(
            f"INSERT INTO {name} SELECT CAST(id % 50 AS INT), CAST(id AS INT), "
            "CAST(id AS INT), CAST(id % 97 AS INT) FROM range(2000)"
        )
    vals = ", ".join(f"({i % 50}, {10000 + i}, {i}, {i})" for i in range(10))
    batch = spark.createDataFrame(
        [(3, 20000, 1, 1), (4, 20001, 2, 2)], "k int, u int, v int, d int"
    )
    statements = {
        "insert": lambda: mpp.sql(f"INSERT INTO jc VALUES {vals}"),
        "insert_select": lambda: mpp.sql(
            "INSERT INTO jc SELECT CAST(id % 50 AS INT), CAST(id AS INT), "
            "CAST(id AS INT), CAST(id AS INT) FROM range(10)"
        ),
        "update": lambda: mpp.sql("UPDATE jc SET v = v + 1 WHERE k = 7"),
        "delete": lambda: mpp.sql("DELETE FROM jc WHERE k = 9 AND v % 7 = 0"),
        "upsert": lambda: mpp.upsert("jc", batch, ["k", "u"]),
        "optimize": lambda: mpp.sql("OPTIMIZE jc"),
        "insert_unique": lambda: mpp.sql(f"INSERT INTO ju VALUES {vals}"),
    }
    got = {}
    for verb, run in statements.items():
        with count_jobs(spark) as jobs:
            assert run() > 0
        got[verb] = jobs[0]
    assert {v: n for v, n in got.items() if n > JOB_BUDGET[v]} == {}
