"""Prune safety: when a front-door WHERE may prune a distributed table.

One rule (``MppSession._prune_qualifiers``): the query's top-level WHERE
prunes distributed table ``t`` only when ``t`` is named exactly once
outside literals and comments (backtick-quoted references count, a
``t.``-qualified column does not), and that one reference sits at paren
depth 0 in the main SELECT's FROM clause, which the WHERE directly
follows and which holds no LEFT/RIGHT/FULL/SEMI/ANTI join. Every other
shape reads the table unpruned. The verdict table below is the rule's
specification; the end-to-end tests pin the wrong-results shapes it
closes against the rows DuckDB returns for the same data.
"""

import re

import pytest

from tests.conftest import rows

# query over distributed table ``st`` → may its WHERE prune ``st``?
VERDICTS = {
    # -- one reference at depth 0 of the main FROM, WHERE right after it
    "plain": ("SELECT * FROM st WHERE k = 2", True),
    "backtick_only_ref": ("SELECT * FROM `st` WHERE k = 2", True),
    "from_alias": ("SELECT * FROM st e WHERE e.k = 2", True),
    "from_as_alias": ("SELECT * FROM st AS e WHERE e.k = 2", True),
    "inner_join": (
        "SELECT st.k, w FROM st JOIN lv ON st.k = lv.k WHERE st.k = 2", True
    ),
    "comma_relation_list": ("SELECT a FROM tv, st WHERE x=1", True),
    "comma_after_derived_table": (
        "SELECT * FROM (SELECT 1 AS a FROM q) z, st WHERE k = 1", True
    ),
    "setop_leg1_where": (
        "SELECT k FROM st WHERE k = 2 UNION ALL SELECT k FROM v", True
    ),
    "name_in_literal": ("SELECT * FROM st WHERE k = 2 AND note = 'st'", True),
    "name_in_comment": ("SELECT k FROM st /* st */ WHERE k = 2", True),
    "unrelated_cte": (
        "WITH x AS (SELECT k FROM v) SELECT k FROM st WHERE k = 2", True
    ),
    # -- no WHERE, or the one reference is not in the main FROM clause
    "no_where": ("SELECT k FROM st", False),
    "comma_select_list_column": ("SELECT a, st FROM q WHERE x = 1", False),
    "comma_after_scalar_subquery": (
        "SELECT (SELECT max(k) FROM t2), st FROM q WHERE x = 1", False
    ),
    "comma_in_in_list": ("SELECT a FROM q WHERE k IN (1, st)", False),
    "derived_table": (
        "SELECT * FROM (SELECT v AS k FROM st) s WHERE k = 3", False
    ),
    "where_subquery": (
        "SELECT k FROM v WHERE k IN (SELECT k FROM st) AND k = 2", False
    ),
    "setop_leg2_table": (
        "SELECT k FROM v WHERE k = 2 UNION ALL SELECT k FROM st", False
    ),
    "setop_leg2_where": (
        "SELECT k FROM st UNION ALL SELECT k FROM v WHERE k = 2", False
    ),
    "setop_comment_apostrophe": (
        "SELECT k FROM v -- don't\nUNION ALL SELECT k FROM st WHERE k = 2",
        False,
    ),
    "from_first": ("FROM st SELECT k WHERE k = 2", False),
    # -- outer joins: the WHERE may test the nullable side's NULLs
    "left_join": (
        "SELECT lv.k FROM lv LEFT JOIN st ON lv.k = st.k WHERE st.k IS NULL",
        False,
    ),
    "right_join": (
        "SELECT lv.k FROM st RIGHT JOIN lv ON lv.k = st.k WHERE st.k IS NULL",
        False,
    ),
    "full_join": (
        "SELECT lv.k FROM st FULL OUTER JOIN lv ON lv.k = st.k WHERE st.k = 3",
        False,
    ),
    "anti_join": (
        "SELECT lv.k FROM lv LEFT ANTI JOIN st ON lv.k = st.k WHERE lv.k = 3",
        False,
    ),
    # -- a second reference
    "self_join": ("SELECT a.k FROM st a, st b WHERE a.k = 2", False),
    "self_join_comment_apostrophe": (
        "SELECT a.k FROM st a -- it's a self-join\n"
        ", st b WHERE a.k = 2 AND b.k = a.v",
        False,
    ),
    "column_named_like_table": ("SELECT st FROM st WHERE k = 1", False),
    "backtick_second_ref": (
        "SELECT k FROM st WHERE k = 2 "
        "AND NOT EXISTS (SELECT 1 FROM `st` s WHERE s.k = 3)",
        False,
    ),
    # -- CTE bodies: the source feeds every consumer of the CTE
    "cte_renamed_column": (
        "WITH c AS (SELECT k AS a, v AS st FROM st) SELECT a FROM c WHERE a = 2",
        False,
    ),
    "cte_select_list_column": (
        "WITH c AS (SELECT a, st FROM q) SELECT a FROM c WHERE a=2", False
    ),
    "cte_select_list_column_setop": (
        "WITH c AS (SELECT k AS a, st FROM q) "
        "SELECT a FROM c WHERE a = 2 UNION ALL SELECT a FROM c",
        False,
    ),
    "cte_comma_relation": (
        "WITH c AS (SELECT q.k AS a FROM q, st) SELECT a FROM c WHERE a = 2",
        False,
    ),
    "cte_comma_after_block_comment": (
        "WITH c AS (SELECT q.k AS a FROM q /* select best */, st) "
        "SELECT a FROM c WHERE a=2 UNION ALL SELECT a FROM c",
        False,
    ),
    "cte_comma_after_line_comment": (
        "WITH c AS (SELECT q.k AS a FROM q -- select\n , st) "
        "SELECT a FROM c WHERE a=2 UNION ALL SELECT a FROM c",
        False,
    ),
    "cte_comma_after_quoted_alias": (
        'WITH c AS (SELECT x.a FROM q AS "select stats", st) '
        "SELECT a FROM c WHERE a=2 UNION ALL SELECT a FROM c",
        False,
    ),
    "cte_comma_after_backtick_alias": (
        "WITH c AS (SELECT x.a FROM q AS `select stats`, st) "
        "SELECT a FROM c WHERE a=2 UNION ALL SELECT a FROM c",
        False,
    ),
    "cte_lone_quote_in_comment": (
        "WITH c AS (SELECT k FROM st -- don't prune\n) "
        "SELECT k FROM c WHERE k = 'x' || 2 UNION ALL SELECT k FROM c",
        False,
    ),
    "cte_select_in_comment": (
        "WITH /* select */ x AS (SELECT k FROM st) "
        "SELECT k FROM x WHERE k = 2 UNION ALL SELECT k FROM x",
        False,
    ),
}


@pytest.mark.parametrize(
    "query, prunes", list(VERDICTS.values()), ids=list(VERDICTS)
)
def test_prune_rule(mpp, query, prunes):
    assert (mpp._prune_qualifiers(query, "st") is not None) is prunes


def test_prune_qualifiers_are_the_name_and_its_alias(mpp):
    assert mpp._prune_qualifiers("SELECT * FROM st WHERE k = 1", "st") == {"st"}
    assert mpp._prune_qualifiers(
        "SELECT * FROM st AS e JOIN lv ON e.k = lv.k WHERE e.k = 1", "st"
    ) == {"st", "e"}


def _shards(explain_text: str) -> str:
    m = re.search(r"Shards: (\d+/\d+)", explain_text)
    assert m, explain_text
    return m.group(1)


# ---------------------------------------------------------------------------
# end to end: rows equal DuckDB's for the same data
# ---------------------------------------------------------------------------

@pytest.fixture()
def shadowed(mpp):
    """t(k, c0, v) with rows (i, i % 7, i % 5), i in 0..39: a column ``c0``
    that a select alias of the partition column can shadow."""
    mpp.sql(
        "CREATE TABLE sht(k INT, c0 INT, v INT) PARTITION BY (k) WITH BUCKETS 8"
    )
    values = ", ".join(f"({i}, {i % 7}, {i % 5})" for i in range(40))
    mpp.sql(f"INSERT INTO sht VALUES {values}")
    return mpp


def test_select_alias_shadowing_a_column_filters_the_column(shadowed):
    # WHERE c0 is the base column c0, not the alias of k
    q = "SELECT k AS c0 FROM sht WHERE c0 = 5"
    assert sorted(r[0] for r in rows(shadowed.sql(q))) == [5, 12, 19, 26, 33]
    assert _shards(shadowed.sql("EXPLAIN " + q)) == "8/8"


def test_derived_table_rename_is_not_pruned(shadowed):
    q = "SELECT * FROM (SELECT v AS k FROM sht) s WHERE k = 3"
    assert rows(shadowed.sql(q)) == [(3,)] * 8


@pytest.mark.parametrize(
    "query, want",
    [
        ("SELECT lv.k FROM lv LEFT JOIN ojt ON lv.k = ojt.k "
         "WHERE ojt.k IS NULL", [9, 10, 11]),
        ("SELECT lv.k FROM ojt RIGHT JOIN lv ON lv.k = ojt.k "
         "WHERE ojt.k IS NULL", [9, 10, 11]),
        ("SELECT lv.k FROM lv LEFT JOIN ojt ON lv.k = ojt.k "
         "WHERE ojt.k IS NULL OR ojt.k = 3", [3, 9, 10, 11]),
    ],
    ids=["left", "right", "left_or"],
)
def test_outer_join_nullable_side_is_not_pruned(mpp, spark, query, want):
    mpp.sql("CREATE TABLE ojt(k INT, v INT) PARTITION BY (k) WITH BUCKETS 8")
    mpp.sql(
        "INSERT INTO ojt VALUES "
        + ", ".join(f"({k}, {k})" for k in range(1, 9))
        + ", (NULL, 0)"
    )
    spark.createDataFrame([(k,) for k in range(1, 12)], "k int") \
        .createOrReplaceTempView("lv")
    assert sorted(r[0] for r in rows(mpp.sql(query))) == want


def test_backtick_second_reference_is_not_pruned(mpp):
    mpp.sql("CREATE TABLE bt(k INT, note TEXT) PARTITION BY (k) WITH BUCKETS 8")
    mpp.sql("INSERT INTO bt VALUES (1,'a'),(2,'u'),(3,'c')")
    q = (
        "SELECT k FROM bt WHERE k = 2 "
        "AND NOT EXISTS (SELECT 1 FROM `bt` s WHERE s.k = 3)"
    )
    assert rows(mpp.sql(q)) == []


def test_table_name_in_literal_is_not_a_reference(mpp, spark):
    mpp.sql("CREATE TABLE pt(k INT, note TEXT) PARTITION BY (k) WITH BUCKETS 8")
    mpp.sql("CREATE TABLE pu(k INT) PARTITION BY (k) WITH BUCKETS 4")
    mpp.sql("INSERT INTO pt VALUES (1,'a'),(2,'pu'),(3,'c')")
    spark.catalog.dropTempView("pu")
    q = "SELECT * FROM pt WHERE k = 2 AND note = 'pu'"
    assert rows(mpp.sql(q)) == [(2, "pu")]
    text = mpp.sql("EXPLAIN " + q)
    assert _shards(text) == "1/8"
    assert "Table: pu" not in text
    assert not spark.catalog.tableExists("pu")


@pytest.fixture()
def commented(mpp, spark):
    """cm(k, v, note) with rows (i, i % 3, 'n<i>'), i in 0..39, over 8
    buckets, and the same rows as the unpruned temp view ``cm_raw``."""
    data = [(i, i % 3, f"n{i}") for i in range(40)]
    mpp.sql("CREATE TABLE cm(k INT, v INT, note TEXT) PARTITION BY (k) WITH BUCKETS 8")
    mpp.sql("INSERT INTO cm VALUES " + ", ".join(f"({k}, {v}, '{n}')" for k, v, n in data))
    spark.createDataFrame(data, "k int, v int, note string").createOrReplaceTempView("cm_raw")
    return mpp, spark


# WHERE texts whose conjunct on k Spark never reads as one of the WHERE
UNREAD_CONJUNCTS = {
    "line_comment": "v = 1\n-- AND k = 5",
    "nested_block_comment": "v = 1 /* /* */ AND k = 5 */",
    "double_quoted_string": 'v = 1 AND note <> "a AND k = 5 AND b"',
    "backslash_escaped_quote": "v = 1 AND note <> 'a\\' AND k = 5 AND b = '",
    "scalar_subquery": "(SELECT count(*) > 0 FROM cm_raw WHERE v = 1 AND k = 4)",
}


@pytest.mark.parametrize("where", list(UNREAD_CONJUNCTS.values()), ids=list(UNREAD_CONJUNCTS))
def test_select_does_not_prune_on_text_spark_does_not_read(commented, where):
    mpp, spark = commented
    q = "SELECT k FROM {} WHERE " + where
    want = sorted(r[0] for r in rows(spark.sql(q.format("cm_raw"))))
    assert len(want) > 1
    assert sorted(r[0] for r in rows(mpp.sql(q.format("cm")))) == want


@pytest.mark.parametrize("where", list(UNREAD_CONJUNCTS.values()), ids=list(UNREAD_CONJUNCTS))
def test_delete_does_not_prune_on_text_spark_does_not_read(commented, where):
    mpp, spark = commented
    gone = rows(spark.sql("SELECT k FROM cm_raw WHERE " + where))
    kept = sorted(r[0] for r in rows(spark.sql(
        f"SELECT k FROM cm_raw WHERE NOT coalesce(({where}\n), false)"
    )))
    assert mpp.sql("DELETE FROM cm WHERE " + where) == len(gone)
    assert sorted(r[0] for r in rows(mpp.sql("SELECT k FROM cm"))) == kept


def test_comments_around_a_conjunct_keep_pruning(commented):
    mpp, _ = commented
    for q in (
        "SELECT k FROM cm WHERE k = 5 -- the one key",
        "SELECT k FROM cm WHERE /* key */ k = 5 AND v = 2",
    ):
        assert rows(mpp.sql(q)) == [(5,)]
        assert _shards(mpp.sql("EXPLAIN " + q)) == "1/8"


def test_inner_join_and_backtick_reference_keep_pruning(mpp, spark):
    mpp.sql("CREATE TABLE ij(k INT, v INT) PARTITION BY (k) WITH BUCKETS 8")
    mpp.sql("INSERT INTO ij VALUES " + ", ".join(f"({k}, {k})" for k in range(8)))
    spark.createDataFrame([(k, k * 10) for k in range(8)], "k int, w int") \
        .createOrReplaceTempView("lv")
    q = "SELECT ij.k, w FROM ij JOIN lv ON ij.k = lv.k WHERE ij.k = 2"
    assert rows(mpp.sql(q)) == [(2, 20)]
    assert _shards(mpp.sql("EXPLAIN " + q)) == "1/8"
    assert _shards(mpp.sql("EXPLAIN SELECT * FROM `ij` WHERE k = 2")) == "1/8"


def test_cte_fed_setop_keeps_every_leg(mpp):
    mpp.sql("CREATE TABLE st2(k INT) PARTITION BY(k) WITH BUCKETS 4")
    mpp.sql("INSERT INTO st2 VALUES(1),(2),(3)")
    got = rows(
        mpp.sql(
            "WITH x AS (SELECT k FROM st2) "
            "SELECT k FROM x WHERE k=2 UNION ALL SELECT k FROM x"
        ),
        "k",
    )
    assert [k for (k,) in got] == [1, 2, 2, 3]


def test_cte_source_with_select_in_comment_keeps_every_leg(mpp):
    mpp.sql("CREATE TABLE st8(k INT) PARTITION BY(k) WITH BUCKETS 4")
    mpp.sql("INSERT INTO st8 VALUES(1),(2),(3)")
    q = (
        "WITH /* select */ x AS (SELECT k FROM st8) "
        "SELECT k FROM x WHERE k = 2 UNION ALL SELECT k FROM x"
    )
    assert mpp._prune_qualifiers(q, "st8") is None
    got = sorted(k for (k,) in rows(mpp.sql(q), "k"))
    assert got == [1, 2, 2, 3]


def test_setop_with_apostrophe_in_comment_keeps_leg_two(mpp):
    mpp.sql("CREATE TABLE st9(k INT, v TEXT) PARTITION BY(k) WITH BUCKETS 4")
    mpp.sql("INSERT INTO st9 VALUES(1,'y'),(2,'n'),(3,'y')")
    q = (
        "SELECT k FROM st9 WHERE k = 2 -- don't prune\n"
        "UNION ALL SELECT k FROM st9 WHERE v = 'y'"
    )
    got = sorted(k for (k,) in rows(mpp.sql(q), "k"))
    # a comment's apostrophe once hid the UNION, the k=2 restriction
    # pruned the SHARED scan, and leg 2 lost the k∈{1,3} rows
    assert got == [1, 2, 3]


def test_self_join_with_apostrophe_in_comment_is_not_pruned(mpp):
    mpp.sql("CREATE TABLE stt(k INT, v INT) PARTITION BY(k) WITH BUCKETS 4")
    mpp.sql("INSERT INTO stt VALUES(1,2),(2,3),(3,1)")
    # two refs of stt with a comment between them: a literal blanker once
    # mis-paired the apostrophe and erased the second FROM ref
    q = (
        "SELECT a.k FROM stt a -- it's a self-join\n"
        ", stt b WHERE a.k = 2 AND b.k = a.v"
    )
    assert mpp._prune_qualifiers(q, "stt") is None
    got = [k for (k,) in rows(mpp.sql(q), "k")]
    assert got == [2]
