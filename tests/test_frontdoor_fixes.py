"""Regressions for the round-1 ADVICE findings on the SQL front door:

- alias-in-WHERE rewrite must not touch string literals or qualified refs,
  and must not substitute an alias that shadows a real column;
- UPDATE/DELETE must split SET/WHERE quote-aware (a literal containing
  ' WHERE ' must not corrupt the statement);
- bucket pruning must never attribute another relation's same-named column
  to the partition column (qualified refs match only the distributed
  table's own name/aliases);
- skew salting must be deterministic (retry-safe) and salted_join must
  reject non-left-preserving join types.
"""

import re

import pytest

from tests.conftest import rows


@pytest.fixture()
def t1(mpp):
    mpp.sql("CREATE TABLE t1(id INT, name TEXT) PARTITION BY (id) WITH BUCKETS 8")
    mpp.sql(
        "INSERT INTO t1 VALUES (1, 'a'), (2, 'b'), (3, 'c0'), (4, 'x WHERE y')"
    )
    return mpp


# -- alias rewrite ----------------------------------------------------------

def test_alias_rewrite_preserves_string_literals(t1):
    # ADVICE r01: SELECT a AS b ... WHERE b = 'b' must compare against the
    # literal 'b', not a rewritten 'a'.
    q = "SELECT id AS c0, name FROM t1 WHERE name = 'c0'"
    assert rows(t1.sql(q)) == [(3, "c0")]


def test_alias_rewrite_skips_shadowing_alias(t1):
    # alias `name` shadows the real column `name`: WHERE resolves to the
    # base column in DuckDB and Spark alike — no substitution.
    q = "SELECT id, upper(name) AS name FROM t1 WHERE name = 'a'"
    assert rows(t1.sql(q)) == [(1, "A")]


def test_alias_rewrite_skips_qualified_refs(t1):
    # t1.id is a qualified ref to the base column, not the alias target.
    q = "SELECT t1.id AS x, t1.name FROM t1 WHERE t1.id = 2"
    assert rows(t1.sql(q)) == [(2, "b")]


def test_alias_rewrite_still_applies(t1):
    q = "SELECT id AS c0, name AS c1 FROM t1 WHERE c0 = 1 AND c1 = 'a'"
    assert rows(t1.sql(q)) == [(1, "a")]


# -- quote-aware UPDATE / DELETE -------------------------------------------

def test_update_set_literal_containing_where(t1):
    n = t1.sql("UPDATE t1 SET name = 'p WHERE q' WHERE id = 1")
    assert n == 1
    assert rows(t1.sql("SELECT name FROM t1 WHERE id = 1")) == [("p WHERE q",)]


def test_update_literal_where_without_predicate(t1):
    # no real WHERE at all: the one inside the literal must not be split on
    n = t1.sql("UPDATE t1 SET name = 'x WHERE y'")
    assert n == 4
    assert rows(t1.sql("SELECT DISTINCT name FROM t1")) == [("x WHERE y",)]


def test_delete_where_literal_containing_where(t1):
    n = t1.sql("DELETE FROM t1 WHERE name = 'x WHERE y'")
    assert n == 1
    assert rows(t1.sql("SELECT count(*) AS n FROM t1")) == [(3,)]


@pytest.mark.parametrize(
    "stmt,note,v",
    [
        ('UPDATE t SET note = "x, y", v = 1 WHERE id = 1', "x, y", 1),
        ("UPDATE t SET note = 'x' /* a, b */, v = 2 WHERE id = 1", "x", 2),
    ],
)
def test_update_set_comma_in_quotes_or_comment_does_not_split(mpp, stmt, note, v):
    # the SET list splits only at top-level commas of the blanked text
    mpp.sql("CREATE TABLE t(id INT, note TEXT, v INT) PARTITION BY (id) WITH BUCKETS 4")
    mpp.sql("INSERT INTO t VALUES (1, 'a', 0), (2, 'b', 0)")
    assert mpp.sql(stmt) == 1
    assert rows(mpp.sql("SELECT id, note, v FROM t"), "id") == [(1, note, v), (2, "b", 0)]


def test_split_where_tail_is_quote_and_paren_aware():
    # WHERE inside a string literal or a parenthesized subquery is depth>0 /
    # quoted — the top-level split must land on the real WHERE only.
    from duckdb_mpp_spark.mpp import _split_where_tail

    assert _split_where_tail("name = 'x WHERE y'") == ("name = 'x WHERE y'", None)
    assert _split_where_tail("name = 'a' WHERE id = 1") == ("name = 'a'", "id = 1")
    assert _split_where_tail(
        "id = (SELECT max(id) FROM t WHERE name = 'b') WHERE name = 'a'"
    ) == ("id = (SELECT max(id) FROM t WHERE name = 'b')", "name = 'a'")
    assert _split_where_tail("note = 'it''s WHERE here' WHERE id = 2") == (
        "note = 'it''s WHERE here'",
        "id = 2",
    )


# -- pruning qualifier attribution -------------------------------------------

def _shards(explain_text: str) -> str:
    m = re.search(r"Shards: (\d+/\d+)", explain_text)
    assert m, explain_text
    return m.group(1)


def test_foreign_qualified_ref_never_prunes(t1, spark):
    # ev has a column literally named `id` (the partition column's name) —
    # a filter on ev.id must NOT prune t1 (ADVICE r01: result-changing).
    spark.createDataFrame([(5, 1), (5, 2), (7, 3)], "id int, k int") \
        .createOrReplaceTempView("ev")
    q = "SELECT t1.id, t1.name FROM t1 JOIN ev ON t1.id = ev.k WHERE ev.id = 5"
    assert rows(t1.sql(q), "id") == [(1, "a"), (2, "b")]
    assert _shards(t1.sql("EXPLAIN " + q)) == "8/8"


def test_own_qualifier_and_alias_still_prune(t1):
    assert _shards(t1.sql("EXPLAIN SELECT * FROM t1 WHERE t1.id = 1")) == "1/8"
    assert _shards(t1.sql("EXPLAIN SELECT * FROM t1 e WHERE e.id = 1")) == "1/8"
    tbl = t1.table("t1")
    assert len(tbl.pruned_bucket_ids("ev.id = 5")) == 8  # foreign qualifier
    assert len(tbl.pruned_bucket_ids("t1.id = 5")) == 1
    assert len(tbl.pruned_bucket_ids("id = 5")) == 1


# -- deterministic salting ----------------------------------------------------

def test_salted_join_rejects_right_outer(spark):
    from duckdb_mpp_spark.operators.skew import salted_join

    left = spark.createDataFrame([(1, "x")], "k int, v string")
    right = spark.createDataFrame([(1, "d")], "k int, name string")
    for how in ("right", "full", "outer", "full_outer"):
        with pytest.raises(ValueError, match="left-preserving"):
            salted_join(left, right, "k", how=how)


def test_salt_is_deterministic_expression(spark):
    # retry-safety proxy: the salt expression must not contain
    # nondeterministic expressions (monotonically_increasing_id / rand).
    from duckdb_mpp_spark.operators.skew import _salt_col

    df = spark.createDataFrame([(1, "x"), (2, "y")], "k int, v string")
    salted = df.withColumn("__salt", _salt_col(df, 16))
    plan = salted._jdf.queryExecution().analyzed().toString()
    assert "monotonically_increasing_id" not in plan
    assert "rand(" not in plan
    a = sorted(tuple(r) for r in salted.collect())
    b = sorted(tuple(r) for r in salted.collect())
    assert a == b


# -- DuckDB dialect rewrites: QUALIFY / DISTINCT ON ---------------------------

def _dialect_table(spark, mpp):
    mpp.sql("CREATE TABLE dq(k INT, grp INT, v INT) PARTITION BY (grp) WITH BUCKETS 4")
    mpp.sql(
        "INSERT INTO dq VALUES (1,1,30),(2,1,20),(3,1,10),(4,2,5),(5,2,50),(6,3,7)"
    )


def test_qualify_rewrite(spark, mpp):
    _dialect_table(spark, mpp)
    got = mpp.sql(
        "SELECT k, grp, v FROM dq "
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY grp ORDER BY v DESC, k) = 1 "
        "ORDER BY grp"
    ).collect()
    assert [(r.k, r.grp, r.v) for r in got] == [(1, 1, 30), (5, 2, 50), (6, 3, 7)]
    # __qualify helper column must not leak into the output schema
    assert [c for c in got[0].asDict()] == ["k", "grp", "v"]


def test_qualify_with_limit(spark, mpp):
    _dialect_table(spark, mpp)
    got = mpp.sql(
        "SELECT k, grp FROM dq "
        "QUALIFY RANK() OVER (PARTITION BY grp ORDER BY v) <= 1 "
        "ORDER BY grp LIMIT 2"
    ).collect()
    assert [(r.k, r.grp) for r in got] == [(3, 1), (4, 2)]


def test_distinct_on_rewrite(spark, mpp):
    _dialect_table(spark, mpp)
    got = mpp.sql(
        "SELECT DISTINCT ON (grp) grp, v, k FROM dq ORDER BY grp, v, k"
    ).collect()
    assert [(r.grp, r.v, r.k) for r in got] == [(1, 10, 3), (2, 5, 4), (3, 7, 6)]
    assert [c for c in got[0].asDict()] == ["grp", "v", "k"]


def test_distinct_on_requires_order_by(spark, mpp):
    _dialect_table(spark, mpp)
    with pytest.raises(NotImplementedError, match="ORDER BY"):
        mpp.sql("SELECT DISTINCT ON (grp) grp, v FROM dq")


# -- COPY TO / FROM -----------------------------------------------------------

def test_copy_to_csv_and_back(spark, mpp, tmp_path):
    mpp.sql("CREATE TABLE ct(k INT, v TEXT) PARTITION BY (k) WITH BUCKETS 2")
    mpp.sql("INSERT INTO ct VALUES (1,'a'),(2,'b'),(3,'c')")
    out = str(tmp_path / "export.csv")
    assert mpp.sql(f"COPY ct TO '{out}'") == 3  # csv-with-header default
    mpp.sql("CREATE TABLE ct2(k INT, v TEXT) PARTITION BY (k) WITH BUCKETS 2")
    assert mpp.sql(f"COPY ct2 FROM '{out}'") == 3
    got = sorted(tuple(r) for r in mpp.sql("SELECT * FROM ct2").collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]


def test_copy_unknown_format_rejected(spark, mpp, tmp_path):
    mpp.sql("CREATE TABLE cf(k INT) PARTITION BY (k) WITH BUCKETS 2")
    with pytest.raises(NotImplementedError, match="format"):
        mpp.sql(f"COPY cf TO '{tmp_path}/x.avro'")


def test_copy_to_existing_nonempty_target_guarded(spark, mpp, tmp_path):
    """ADVICE r3: Spark's overwrite deletes the target directory
    recursively — a pre-existing non-empty target requires an explicit
    (OVERWRITE) opt-in."""
    mpp.sql("CREATE TABLE cg(k INT) PARTITION BY (k) WITH BUCKETS 2")
    mpp.sql("INSERT INTO cg VALUES (1),(2)")
    out = str(tmp_path / "export.csv")
    assert mpp.sql(f"COPY cg TO '{out}'") == 2
    with pytest.raises(ValueError, match="OVERWRITE"):
        mpp.sql(f"COPY cg TO '{out}'")
    assert mpp.sql(f"COPY cg TO '{out}' (OVERWRITE)") == 2  # explicit opt-in


# -- QUALIFY guarded edges ----------------------------------------------------

def test_qualify_in_subquery_rejected(spark, mpp):
    mpp.sql("CREATE TABLE qs(k INT, grp INT) PARTITION BY (grp) WITH BUCKETS 2")
    mpp.sql("INSERT INTO qs VALUES (1, 1), (2, 1)")
    with pytest.raises(NotImplementedError, match="top level"):
        mpp.sql(
            "SELECT * FROM (SELECT k, grp FROM qs "
            "QUALIFY ROW_NUMBER() OVER (PARTITION BY grp ORDER BY k) = 1) t"
        )


def test_qualify_with_select_distinct_rejected(spark, mpp):
    mpp.sql("CREATE TABLE qd(k INT, grp INT) PARTITION BY (grp) WITH BUCKETS 2")
    mpp.sql("INSERT INTO qd VALUES (1, 1), (2, 1)")
    with pytest.raises(NotImplementedError, match="DISTINCT"):
        mpp.sql(
            "SELECT DISTINCT grp FROM qd "
            "QUALIFY ROW_NUMBER() OVER (PARTITION BY grp ORDER BY k) = 1"
        )


def test_qualify_keyword_in_string_literal_ok(spark, mpp):
    mpp.sql("CREATE TABLE ql(k INT, v TEXT) PARTITION BY (k) WITH BUCKETS 2")
    mpp.sql("INSERT INTO ql VALUES (1, 'qualify me')")
    got = mpp.sql("SELECT v FROM ql WHERE v = 'qualify me'").collect()
    assert [r[0] for r in got] == ["qualify me"]


# -- UNIQUE / PRIMARY KEY enforcement -----------------------------------------

def test_unique_constraint_bucket_local_enforced(spark, mpp):
    """UNIQUE columns are enforced bucket-locally at insert, matching the
    reference carrying constraints into shard DDL (per-shard DuckDB
    index): a duplicate in the SAME bucket is rejected, batch-internal
    duplicates are rejected, multiple NULLs are allowed, and a failed
    insert leaves the table untouched."""
    mpp.sql(
        "CREATE TABLE uq(id INT UNIQUE, grp INT) "
        "PARTITION BY (grp) WITH BUCKETS 4"
    )
    assert mpp.sql("INSERT INTO uq VALUES (1, 10), (2, 10), (NULL, 10)") == 3
    # same bucket (same grp) + same id → rejected, nothing committed
    with pytest.raises(ValueError, match="unique constraint"):
        mpp.sql("INSERT INTO uq VALUES (1, 10)")
    assert mpp.sql("SELECT COUNT(*) AS n FROM uq").collect()[0][0] == 3
    # batch-internal duplicate in one bucket → rejected
    with pytest.raises(ValueError, match="unique constraint"):
        mpp.sql("INSERT INTO uq VALUES (7, 10), (7, 10)")
    # multiple NULLs allowed (SQL UNIQUE)
    assert mpp.sql("INSERT INTO uq VALUES (NULL, 10)") == 1


def test_primary_key_implies_not_null_and_unique(spark, mpp):
    mpp.sql(
        "CREATE TABLE pk(id INT PRIMARY KEY, v TEXT) "
        "PARTITION BY (id) WITH BUCKETS 4"
    )
    assert mpp.sql("INSERT INTO pk VALUES (1, 'a')") == 1
    # PK = partition column → uniqueness is global (same value, same bucket)
    with pytest.raises(ValueError, match="unique constraint"):
        mpp.sql("INSERT INTO pk VALUES (1, 'b')")
    with pytest.raises(Exception, match="NOT NULL"):
        mpp.sql("INSERT INTO pk VALUES (NULL, 'c')")


def test_composite_unique_rejected_loudly(spark, mpp):
    with pytest.raises(NotImplementedError, match="composite"):
        mpp.sql(
            "CREATE TABLE cu(a INT, b INT, UNIQUE(a, b)) "
            "PARTITION BY (a) WITH BUCKETS 2"
        )


def test_table_level_unique_constraint(spark, mpp):
    mpp.sql(
        "CREATE TABLE tu(a INT, b INT, UNIQUE(b)) "
        "PARTITION BY (a) WITH BUCKETS 2"
    )
    assert mpp.sql("INSERT INTO tu VALUES (1, 5), (1, 6)") == 2
    with pytest.raises(ValueError, match="unique constraint"):
        mpp.sql("INSERT INTO tu VALUES (1, 5)")


def test_qualify_with_cte_select_distinct_rejected(spark, mpp):
    """review r4: the DISTINCT guard must see through a WITH prefix — the
    main SELECT is the first depth-0 SELECT, not the query start."""
    mpp.sql("CREATE TABLE qw(k INT, grp INT) PARTITION BY (grp) WITH BUCKETS 2")
    mpp.sql("INSERT INTO qw VALUES (1, 1), (2, 1)")
    with pytest.raises(NotImplementedError, match="DISTINCT"):
        mpp.sql(
            "WITH c AS (SELECT k, grp FROM qw) SELECT DISTINCT grp FROM c "
            "QUALIFY ROW_NUMBER() OVER (PARTITION BY grp ORDER BY k) = 1"
        )
    # ...while a plain (non-DISTINCT) CTE query with QUALIFY still rewrites
    got = mpp.sql(
        "WITH c AS (SELECT k, grp FROM qw) SELECT k, grp FROM c "
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY grp ORDER BY k) = 1"
    ).collect()
    assert [(r[0], r[1]) for r in got] == [(1, 1)]


def test_table_level_primary_key_implies_not_null(spark, mpp):
    """review r4: PRIMARY KEY (col) as a table-level constraint must set
    NOT NULL exactly like the inline form."""
    mpp.sql(
        "CREATE TABLE pkt(id INT, v TEXT, PRIMARY KEY (id)) "
        "PARTITION BY (id) WITH BUCKETS 2"
    )
    assert mpp.sql("INSERT INTO pkt VALUES (1, 'a')") == 1
    with pytest.raises(Exception, match="NOT NULL"):
        mpp.sql("INSERT INTO pkt VALUES (NULL, 'c')")
    with pytest.raises(ValueError, match="unique constraint"):
        mpp.sql("INSERT INTO pkt VALUES (1, 'b')")


def test_update_cannot_create_unique_duplicates(spark, mpp):
    """review r4: the reference's per-shard index rejects duplicate-creating
    DML on every path — UPDATE must enforce UNIQUE, and a rejected UPDATE
    must leave the table untouched (no poisoned bucket)."""
    mpp.sql("CREATE TABLE uu(id INT UNIQUE, grp INT) PARTITION BY (grp) WITH BUCKETS 2")
    assert mpp.sql("INSERT INTO uu VALUES (1, 10), (2, 10), (3, 11)") == 3
    with pytest.raises(ValueError, match="unique constraint"):
        mpp.sql("UPDATE uu SET id = 1 WHERE grp = 10")
    # table untouched: still 3 rows, original ids, and clean inserts work
    assert sorted(r[0] for r in mpp.sql("SELECT id FROM uu").collect()) == [1, 2, 3]
    assert mpp.sql("INSERT INTO uu VALUES (4, 10)") == 1
    # updates NOT touching the unique column skip the check and work
    assert mpp.sql("UPDATE uu SET grp = grp WHERE id = 4") == 1


def test_upsert_cannot_create_unique_duplicates(spark, mpp):
    """review r4: MERGE upsert enforces UNIQUE on non-key columns too."""
    mpp.sql(
        "CREATE TABLE us(k INT, ref INT UNIQUE, grp INT) "
        "PARTITION BY (grp) WITH BUCKETS 2"
    )
    mpp.sql("INSERT INTO us VALUES (1, 100, 10), (2, 200, 10)")
    dup = spark.createDataFrame([(3, 100, 10)], "k INT, ref INT, grp INT")
    with pytest.raises(ValueError, match="unique constraint"):
        mpp.upsert("us", dup, ["grp", "k"])
    assert mpp.sql("SELECT COUNT(*) AS n FROM us").collect()[0][0] == 2
    # replacing the row that HOLDS the unique value is fine
    ok = spark.createDataFrame([(1, 100, 10), (3, 300, 10)], "k INT, ref INT, grp INT")
    assert mpp.upsert("us", ok, ["grp", "k"]) == 2
    assert mpp.sql("SELECT COUNT(*) AS n FROM us").collect()[0][0] == 3


def test_self_join_disables_pruning_and_zonemap_merge(spark, mpp):
    """review r4: one temp view backs BOTH legs of a self-join, so merging
    per-alias WHERE conjuncts into a single bucket/zone-map restriction
    (AND = intersection) would starve one leg. Pruning must disable."""
    mpp.sql(
        "CREATE TABLE sj(k INT, v INT, grp INT) "
        "PARTITION BY (grp) WITH BUCKETS 4 SORT BY (v)"
    )
    df = spark.range(300).selectExpr(
        "CAST(id AS INT) AS k", "CAST(id AS INT) AS v", "CAST(id % 3 AS INT) AS grp"
    )
    tbl = mpp.table("sj")
    for lo in (0, 100, 200):
        tbl.insert(df.where(f"v >= {lo} AND v < {lo + 100}"))
    # zone-map: merged bounds v<50 AND 200<=v<250 are contradictory → the
    # old code skipped every file and returned 0 rows
    got = mpp.sql(
        "SELECT a.k AS ak, b.k AS bk FROM sj a JOIN sj b ON b.k = a.k + 200 "
        "WHERE a.v < 50 AND b.v >= 200 AND b.v < 250"
    ).collect()
    assert len(got) == 50
    # bucket pruning: merged grp=0 AND grp=1 is an empty shard set
    n = mpp.sql(
        "SELECT COUNT(*) AS n FROM sj a JOIN sj b ON b.k = a.k + 1 "
        "WHERE a.grp = 0 AND b.grp = 1"
    ).collect()[0][0]
    assert n == 100
    # single-reference queries keep pruning (the fix is self-join-scoped)
    assert "Shards: 1/4" in mpp.sql("EXPLAIN SELECT k FROM sj WHERE grp = 1")
    # ...and the self-joined EXPLAIN reports the full shard set honestly
    assert "Shards: 4/4" in mpp.sql(
        "EXPLAIN SELECT COUNT(*) AS n FROM sj a JOIN sj b ON b.k = a.k + 1 "
        "WHERE a.grp = 0 AND b.grp = 1"
    )


def test_string_partition_numeric_literal_never_prunes(spark, mpp):
    """review r4: `strcol = 5` makes Spark cast the COLUMN side, so '05',
    '5.0', ' 5'… all match while hash('5') names one bucket — pruning (and
    the DML bucket selection on top of it) must disable for non-string
    literals on a string partition column."""
    mpp.sql("CREATE TABLE sp(c TEXT, v INT) PARTITION BY (c) WITH BUCKETS 8")
    # '05' casts to 5 (ANSI) but routes to a different bucket than '5'
    mpp.sql("INSERT INTO sp VALUES ('05', 1), ('5', 2), ('7', 3)")
    got = sorted(r[0] for r in mpp.sql("SELECT v FROM sp WHERE c = 5").collect())
    assert got == [1, 2]
    # DELETE picks rewrite buckets via the same pruning — all spellings go
    assert mpp.sql("DELETE FROM sp WHERE c = 5") == 2
    assert mpp.sql("SELECT COUNT(*) AS n FROM sp").collect()[0][0] == 1
    # string literals still prune (canonical: literal side is the hash key)
    assert "Shards: 1/8" in mpp.sql("EXPLAIN SELECT v FROM sp WHERE c = '7'")
    # and IN with any numeric member disables too
    assert "Shards: 8/8" in mpp.sql("EXPLAIN SELECT v FROM sp WHERE c IN ('7', 5)")


def test_predicate_trailing_whitespace_still_prunes():
    """review r4: an unstripped predicate must not silently disable the
    pruning/zonemap tokenizer."""
    from duckdb_mpp_spark.pruning import parse_predicate

    assert parse_predicate("c0 = 1 ") is not None
    assert parse_predicate("c0 = 1\n") is not None


@pytest.mark.parametrize("batch", ["rows", "values"])
def test_concurrent_insert_unique_race_detected(spark, mpp, monkeypatch, batch):
    """review r4: two concurrent inserts of the same UNIQUE key — both
    pass the pre-commit check against the same base snapshot; the loser's
    rebase-and-retry must re-validate against the new head and abort. The
    re-check is the pre-check's own primitive, so a duplicate already on
    disk in the affected bucket never rejects the batch. The losing
    writer's batch is a client-built frame (the Spark write) or a VALUES
    list (the driver write, ``REGIMES["small_write"]``)."""
    import dataclasses

    mpp.sql("CREATE TABLE cr(id INT UNIQUE, grp INT) PARTITION BY (grp) WITH BUCKETS 2")
    mpp.sql("INSERT INTO cr VALUES (1, 10)")
    # an inconsistency already on disk in group 10's bucket: id 5 twice,
    # written by a writer that does not know the constraint
    blind = mpp.table("cr")
    blind.meta = dataclasses.replace(blind.meta, unique_columns=[])
    blind.insert(spark.createDataFrame([(5, 10), (5, 10)], "id INT, grp INT"))

    tbl = mpp.table("cr")
    real_ingest = tbl._ingest_staged

    def insert_racing(own_id, racing_id):
        # writer B commits between writer A's ingest and A's commit, so A's
        # commit conflicts, rebases and re-checks against B's head
        def ingest(tmp):
            entries = real_ingest(tmp)
            mpp.sql(f"INSERT INTO cr VALUES ({racing_id}, 10)")
            return entries

        monkeypatch.setattr(tbl, "_ingest_staged", ingest)
        if batch == "values":
            own = spark.sql(f"SELECT * FROM VALUES ({own_id}, 10) AS v(id, grp)")
        else:
            own = spark.createDataFrame([(own_id, 10)], "id INT, grp INT")
        return tbl.insert(own)

    collected = []
    real_write = tbl._write_collected
    monkeypatch.setattr(
        tbl, "_write_collected",
        lambda rows, tmp: collected.append(len(rows)) or real_write(rows, tmp),
    )
    assert insert_racing(42, 43) == 1
    head = tbl.snapshot()[0]
    with pytest.raises(ValueError, match="unique constraint"):
        insert_racing(44, 44)
    # the racing writer B's commit is the only new version
    assert tbl.snapshot()[0] == head + 1
    # a VALUES batch took the driver write; a client-built one did not
    assert collected == ([1, 1] if batch == "values" else [])
    # only writer B's id 44 is visible; A's files stay unreferenced orphans
    got = mpp.sql("SELECT id, COUNT(*) AS n FROM cr GROUP BY id")
    assert rows(got, "id") == [(1, 1), (5, 2), (42, 1), (43, 1), (44, 1)]


# -- review r4, pass 3: front-door parsing/rewrite fixes ----------------------

def test_setop_where_does_not_bleed_into_second_leg(spark, mpp):
    """review r4: the first leg's WHERE text must stop at a top-level
    UNION/INTERSECT/EXCEPT — bounds derived from the second leg's conjuncts
    skipped files the first leg needs."""
    mpp.sql(
        "CREATE TABLE su(k INT, v INT, grp INT) "
        "PARTITION BY (grp) WITH BUCKETS 2 SORT BY (v)"
    )
    df = spark.range(200).selectExpr(
        "CAST(id AS INT) AS k", "CAST(id AS INT) AS v", "CAST(id % 2 AS INT) AS grp"
    )
    tbl = mpp.table("su")
    for lo in (0, 100):
        tbl.insert(df.where(f"v >= {lo} AND v < {lo + 100}"))
    spark.createDataFrame([(1000, 150, 0)], "k INT, v INT, grp INT") \
        .createOrReplaceTempView("vv")
    got = mpp.sql(
        "SELECT k FROM su WHERE grp = 0 "
        "UNION ALL SELECT k FROM vv WHERE v >= 100 AND v < 160 AND grp = 0"
    ).collect()
    # first leg: 100 rows (grp=0, both v-generations); second leg: 1
    assert len(got) == 101
    assert mpp._where_text(
        "SELECT k FROM su WHERE grp = 0 UNION ALL SELECT k FROM vv WHERE v = 1"
    ) == "grp = 0"


def test_mixed_case_identifiers_normalize(spark, mpp):
    """review r4: identifiers are lowercase-canonical — mixed-case DDL and
    DML references must all resolve to the same column (the old case-
    preserving schema silently dropped INSERT values and no-op'd UPDATEs)."""
    mpp.sql('CREATE TABLE mc(Id INT, Name TEXT) PARTITION BY (Id) WITH BUCKETS 2')
    assert mpp.sql("INSERT INTO mc (id, Name) VALUES (1, 'x')") == 1
    assert mpp.sql("SELECT name FROM mc WHERE id = 1").collect()[0][0] == "x"
    assert mpp.sql("UPDATE mc SET Name = 'y' WHERE Id = 1") == 1
    assert mpp.sql("SELECT Name FROM mc WHERE id = 1").collect()[0][0] == "y"


def test_update_unknown_column_raises(spark, mpp):
    mpp.sql("CREATE TABLE bu(id INT, v INT) PARTITION BY (id) WITH BUCKETS 2")
    mpp.sql("INSERT INTO bu VALUES (1, 10)")
    with pytest.raises(ValueError, match='column "vlaue" does not exist'):
        mpp.sql("UPDATE bu SET vlaue = 5 WHERE id = 1")
    with pytest.raises(ValueError, match='does not exist'):
        mpp.sql("INSERT INTO bu (id, vlaue) VALUES (2, 5)")


def test_create_if_not_exists_is_noop(spark, mpp):
    ddl = "CREATE TABLE IF NOT EXISTS ine(a INT) PARTITION BY (a) WITH BUCKETS 2"
    mpp.sql(ddl)
    mpp.sql("INSERT INTO ine VALUES (1)")
    mpp.sql(ddl)  # second create: no-op, no error
    assert mpp.sql("SELECT COUNT(*) AS n FROM ine").collect()[0][0] == 1
    # plain CREATE still errors on an existing table
    with pytest.raises(ValueError, match="already exists"):
        mpp.sql("CREATE TABLE ine(a INT) PARTITION BY (a) WITH BUCKETS 2")


def test_keywords_inside_string_literals_do_not_route(spark, mpp):
    """review r4: RETURNING / ON CONFLICT / VERSION AS OF inside string
    VALUES must neither reject the statement nor mutate the literal."""
    mpp.sql("CREATE TABLE kw(id INT, msg TEXT) PARTITION BY (id) WITH BUCKETS 2")
    assert mpp.sql("INSERT INTO kw VALUES (1, 'use ON CONFLICT here')") == 1
    assert mpp.sql("INSERT INTO kw VALUES (2, 'is RETURNING soon')") == 1
    lit = "deploy kw VERSION AS OF 2 done"
    assert mpp.sql(f"INSERT INTO kw VALUES (3, '{lit}')") == 1
    got = mpp.sql(f"SELECT msg FROM kw WHERE msg = '{lit}'").collect()
    assert [r[0] for r in got] == [lit]
    assert mpp.sql("SELECT id FROM kw WHERE msg = 'RETURNING'").collect() == []


def test_rowid_with_version_as_of_rejected(spark, mpp):
    mpp.sql("CREATE TABLE rv(id INT, v INT) PARTITION BY (id) WITH BUCKETS 2")
    mpp.sql("INSERT INTO rv VALUES (1, 10)")
    mpp.sql("INSERT INTO rv VALUES (2, 20)")
    with pytest.raises(NotImplementedError, match="rowid.*VERSION AS OF"):
        mpp.sql("SELECT rowid, v FROM rv VERSION AS OF 1")


def test_alias_rewrite_distinct_and_concat_safe(spark, mpp):
    """review r4: (a) a DISTINCT select list must not map col→'DISTINCT';
    (b) the rewrite must not split multi-char operators like ||."""
    mpp.sql("CREATE TABLE ar(id INT, nm TEXT) PARTITION BY (id) WITH BUCKETS 2")
    mpp.sql("INSERT INTO ar VALUES (1, 'pq'), (2, 'zz')")
    spark.createDataFrame([(1, "eu"), (2, "us")], "id int, region string") \
        .createOrReplaceTempView("dims")
    got = mpp.sql(
        "SELECT DISTINCT region FROM ar JOIN dims USING (id) WHERE region = 'eu'"
    ).collect()
    assert [r[0] for r in got] == ["eu"]
    got = mpp.sql(
        "SELECT id AS x, nm FROM ar WHERE x = 1 AND nm = 'p' || 'q'"
    ).collect()
    assert [(r[0], r[1]) for r in got] == [(1, "pq")]


def test_rollback_restores_dropped_table(spark, mpp):
    mpp.sql("CREATE TABLE rb(id INT, v INT) PARTITION BY (id) WITH BUCKETS 2")
    mpp.sql("INSERT INTO rb VALUES (1, 10)")
    mpp.sql("BEGIN")
    mpp.sql("DROP TABLE rb")
    assert not mpp.catalog.exists("rb")
    mpp.sql("ROLLBACK")
    assert mpp.catalog.exists("rb")
    assert mpp.sql("SELECT v FROM rb WHERE id = 1").collect()[0][0] == 10
    # create+drop inside one txn rolls back to nothing
    mpp.sql("BEGIN")
    mpp.sql("CREATE TABLE cd(a INT) PARTITION BY (a) WITH BUCKETS 2")
    mpp.sql("DROP TABLE cd")
    mpp.sql("ROLLBACK")
    assert not mpp.catalog.exists("cd")


def test_colocated_version_as_of_rejected(spark, mpp):
    mpp.sql(
        "CREATE TABLE cv(id INT, v INT) PARTITION BY (id) WITH BUCKETS 2 COLOCATED"
    )
    mpp.sql("INSERT INTO cv VALUES (1, 10)")
    with pytest.raises(NotImplementedError, match="COLOCATED"):
        mpp.sql("SELECT v FROM cv VERSION AS OF 1")


def test_rollback_drops_intra_txn_temp_view(spark, mpp):
    """review r4: a SELECT inside the txn registers a temp view; rollback
    must drop it or the dead table stays silently queryable."""
    mpp.sql("BEGIN")
    mpp.sql("CREATE TABLE tx(a INT) PARTITION BY (a) WITH BUCKETS 2")
    mpp.sql("SELECT * FROM tx").collect()
    mpp.sql("ROLLBACK")
    assert not mpp.catalog.exists("tx")
    with pytest.raises(Exception):  # not silently resolvable as a stale view
        mpp.sql("SELECT * FROM tx").collect()


def test_nested_begin_rejected(spark, mpp):
    """review r4: DuckDB rejects nested BEGIN; silently resetting the DDL
    journal would leak the outer transaction's DDL past its ROLLBACK."""
    mpp.sql("BEGIN")
    mpp.sql("CREATE TABLE nb(a INT) PARTITION BY (a) WITH BUCKETS 2")
    with pytest.raises(RuntimeError, match="within a transaction"):
        mpp.sql("BEGIN")
    mpp.sql("ROLLBACK")
    assert not mpp.catalog.exists("nb")


def test_empty_input_counts_do_not_hang(spark, mpp, tmp_path):
    """review r4: provably-empty inputs let AQE plan CollectMetrics away —
    COPY TO and INSERT..SELECT must fall back instead of failing/hanging."""
    mpp.sql("CREATE TABLE ec(a INT, b INT) PARTITION BY (a) WITH BUCKETS 2")
    mpp.sql("INSERT INTO ec VALUES (1, 2)")
    assert mpp.sql("INSERT INTO ec SELECT a, b FROM ec WHERE 1 = 0") == 0
    out = str(tmp_path / "empty_copy")
    n = mpp.sql(f"COPY (SELECT * FROM ec WHERE 1 = 0) TO '{out}' (FORMAT PARQUET)")
    assert n == 0
    assert mpp.sql("SELECT COUNT(*) AS n FROM ec").collect()[0][0] == 1


# -- set-op cross-leg pruning (ADVICE r4, medium) --------------------------

@pytest.fixture()
def setop_t(mpp):
    mpp.sql("CREATE TABLE st(k INT, v INT) PARTITION BY (k) WITH BUCKETS 8")
    mpp.sql("INSERT INTO st VALUES (1, 10), (2, 20), (3, 30), (4, 40)")
    mpp.spark.createDataFrame(
        [(5, 5), (6, 7)], "k int, v int"
    ).createOrReplaceTempView("tv_setop")
    return mpp


def test_setop_later_leg_not_pruned(setop_t):
    # ADVICE r4: the first leg's WHERE (k = 5, on the temp view) must not
    # derive a bucket/zone-map restriction for st, which is referenced only
    # in the SECOND leg — pruning on k=5 would silently drop all st rows.
    q = "SELECT k FROM tv_setop WHERE k = 5 UNION ALL SELECT k FROM st"
    assert sorted(rows(setop_t.sql(q))) == [(1,), (2,), (3,), (4,), (5,)]


def test_setop_later_leg_not_pruned_intersect(setop_t):
    q = "SELECT k FROM tv_setop WHERE k = 5 EXCEPT SELECT k FROM st"
    assert sorted(rows(setop_t.sql(q))) == [(5,)]


def test_setop_first_leg_still_pruned_and_correct(setop_t):
    # table confined to the first leg: pruning stays on and results match.
    q = "SELECT k FROM st WHERE k = 2 UNION ALL SELECT k FROM tv_setop"
    assert sorted(rows(setop_t.sql(q))) == [(2,), (5,), (6,)]
    ex = setop_t.explain(q)
    assert "Shards: 1/8" in ex


def test_setop_explain_shows_full_shards_for_later_leg(setop_t):
    q = "SELECT k FROM tv_setop WHERE k = 5 UNION ALL SELECT k FROM st"
    ex = setop_t.explain(q)
    assert "Shards: 8/8" in ex


# -- backslash-escaped literals (ADVICE r4, low) ---------------------------

def test_backslash_escaped_literal_keyword_guard(t1):
    # 'don\'t ... ON CONFLICT' is ONE literal under Spark's default parser;
    # the keyword guard must not spuriously raise NotImplementedError.
    q = "SELECT id FROM t1 WHERE name = 'don\\'t use ON CONFLICT here'"
    assert rows(t1.sql(q)) == []


def test_backslash_escaped_literal_where_split(t1):
    # the exposed tail after a mis-parsed \' must not corrupt WHERE handling
    q = "SELECT id FROM t1 WHERE name = 'a\\'' OR id = 2"
    assert rows(t1.sql(q), "id") == [(2,)]


def test_setop_where_in_later_leg_does_not_prune_first_leg(setop_t):
    # review r5 (confirmed): the only top-level WHERE lives in the SECOND
    # leg; deriving a bucket/zone-map restriction from it for st (first
    # leg) dropped all st rows.
    q = "SELECT k FROM st UNION ALL SELECT k FROM tv_setop WHERE k = 5"
    assert sorted(rows(setop_t.sql(q))) == [(1,), (2,), (3,), (4,), (5,)]
    ex = setop_t.explain(q)
    assert "Shards: 8/8" in ex


def test_setop_comma_ref_without_space_detected(setop_t):
    # review r5: `FROM tv_setop,st` (no space) must count as a reference
    # to st — the shared temp view backs BOTH legs, so pruning on leg 1's
    # WHERE would drop leg 2's rows.
    q = ("SELECT k FROM st WHERE k = 2 "
         "UNION ALL SELECT st.k AS k FROM tv_setop,st")
    got = sorted(r[0] for r in rows(setop_t.sql(q)))
    assert got == [1, 1, 2, 2, 2, 3, 3, 4, 4]


def test_qualified_select_item_does_not_disable_pruning(setop_t):
    # review r5 (2nd pass): `SELECT k, st.v FROM st` — the ', st.v'
    # select-list item is a COLUMN ref, not a second relation; it must not
    # trip the self-join detector and silently turn pruning off.
    q = "SELECT k, st.v FROM st WHERE k = 2"
    assert rows(setop_t.sql(q)) == [(2, 20)]
    assert "Shards: 1/8" in setop_t.explain(q)
