"""Port of the reference's test/sql/mpp.test (full lifecycle).

Each block below cites the reference line range it reproduces. ATTACH /
USE / DETACH plumbing becomes session + warehouse setup; node endpoints are
registry entries only (Spark manages its own executors).
"""

import pytest

from tests.conftest import rows


@pytest.fixture()
def session(mpp):
    # ATTACH ... (TYPE MPP, ENDPOINT ...) auto-registers the local node
    # (src/storage/mpp_nodes.cpp:36-40); a second node joins via
    # master_add_node (test/sql/mpp.test:31).
    mpp.master_add_node("127.0.0.1", 23456)
    return mpp


def test_nodes_registry(session):
    # test/sql/mpp.test:33-36
    got = rows(session.sql("SELECT * FROM __mpp_system.nodes ORDER BY port"))
    assert got == [("localhost", 0), ("127.0.0.1", 23456)]


def test_add_duplicate_node_fails(session):
    with pytest.raises(ValueError):
        session.master_add_node("127.0.0.1", 23456)


def test_remove_node_unimplemented(session):
    # src/storage/mpp_nodes.cpp:83-85
    with pytest.raises(NotImplementedError):
        session.catalog.remove_node("127.0.0.1", 23456)


def test_lifecycle(session):
    # CREATE (test/sql/mpp.test:39) + metadata rows (:42-52)
    session.sql("CREATE TABLE t1(c0 INT, c1 DOUBLE) PARTITION BY (c0) WITH BUCKETS 4")
    t = rows(session.sql("SELECT * FROM __mpp_system.tables"))
    assert len(t) == 1
    oid, pidx, buckets, deleted = t[0]
    assert (pidx, buckets, deleted) == (0, 4, False)

    shard_counts = rows(
        session.sql(
            "SELECT node, count(shard_id) AS n FROM __mpp_system.shards "
            "GROUP BY node ORDER BY node"
        )
    )
    # 4 shards round-robin over 2 nodes (test/sql/mpp.test:47-52)
    assert sorted(n for _, n in shard_counts) == [2, 2]
    assert sum(n for _, n in shard_counts) == 4

    # INSERT (:54-58) — counts are the reference's BIGINT result row
    assert session.sql("INSERT INTO t1 VALUES(1, 0.1),(2, 0.2),(3, 0.3), (4, 0.4)") == 4
    assert session.sql("INSERT INTO t1 VALUES(5, 0.5),(6, 0.6),(7, 0.7), (8, 0.8)") == 4

    # full scan (:60-74)
    got = rows(session.sql("SELECT c0, c1 FROM t1 ORDER BY c0"))
    assert got == [(i, i / 10) for i in range(1, 9)]

    # filters on the partition column (:76-112)
    assert rows(session.sql("SELECT c0, c1 FROM t1 WHERE c0=3")) == [(3, 0.3)]
    got = rows(session.sql("SELECT c0, c1 FROM t1 WHERE c0 != 3 ORDER BY c0"))
    assert got == [(i, i / 10) for i in [1, 2, 4, 5, 6, 7, 8]]
    got = rows(session.sql("SELECT c0, c1 FROM t1 WHERE c0=3 OR c0=7 ORDER BY c0"))
    assert got == [(3, 0.3), (7, 0.7)]
    got = rows(session.sql("SELECT c0, c1 FROM t1 WHERE c0 IN (1, 3, 5, 7, 9, 11) ORDER BY c0"))
    assert got == [(1, 0.1), (3, 0.3), (5, 0.5), (7, 0.7)]
    got = rows(session.sql("SELECT c0, c1 FROM t1 WHERE c0 NOT IN (1, 3, 5, 7, 9, 11) ORDER BY c0"))
    assert got == [(2, 0.2), (4, 0.4), (6, 0.6), (8, 0.8)]

    # NULL partition value hashes to a concrete bucket (:114-129)
    assert session.sql("INSERT INTO t1 VALUES(NULL, 1.1)") == 1
    assert rows(session.sql("SELECT c0, c1 FROM t1 WHERE c0 IS NULL")) == [(None, 1.1)]
    got = rows(session.sql("SELECT c0, c1 FROM t1 WHERE c0 IS NOT NULL ORDER BY c0"))
    assert got == [(i, i / 10) for i in range(1, 9)]

    # filter on non-partition column (:131-139)
    assert session.sql("INSERT INTO t1 VALUES(100, 100), (101, 100), (102, 100)") == 3
    got = rows(session.sql("SELECT c0, c1 FROM t1 WHERE c1=100.0 ORDER BY c0"))
    assert got == [(100, 100.0), (101, 100.0), (102, 100.0)]

    # NULLs in non-partition column (:141-149)
    assert session.sql("INSERT INTO t1 VALUES(200, NULL), (201, NULL), (202, NULL)") == 3
    got = rows(session.sql("SELECT c0, c1 FROM t1 WHERE c1 IS NULL ORDER BY c0"))
    assert got == [(200, None), (201, None), (202, None)]

    # aliases + expression filters (:151-157)
    got = rows(
        session.sql(
            "SELECT c0 as x, c1 as y FROM t1 WHERE x % 2 = 0 and y > 0.4 ORDER BY x"
        )
    )
    assert got == [(6, 0.6), (8, 0.8), (100, 100.0), (102, 100.0)]

    # DROP + tombstone (:159-171)
    session.sql("DROP TABLE t1")
    t = rows(session.sql("SELECT * FROM __mpp_system.tables"))
    assert t == [(oid, 0, 4, True)]


def test_create_validations(session):
    with pytest.raises(ValueError, match="does not exist"):
        session.sql("CREATE TABLE bad(c0 INT) PARTITION BY (nope) WITH BUCKETS 4")
    session.sql("CREATE TABLE dup(c0 INT) PARTITION BY (c0) WITH BUCKETS 4")
    with pytest.raises(ValueError, match="already exists"):
        session.sql("CREATE TABLE dup(c0 INT) PARTITION BY (c0) WITH BUCKETS 4")


def test_not_implemented_parity(session):
    """Errors the reference also raises (SURVEY §2 'NotImplemented' list)."""
    session.sql("CREATE TABLE p(c0 INT) PARTITION BY (c0) WITH BUCKETS 2")
    with pytest.raises(NotImplementedError):
        session.sql("INSERT INTO p VALUES (1) RETURNING c0")
    with pytest.raises(NotImplementedError):
        session.sql("INSERT INTO p VALUES (1) ON CONFLICT DO NOTHING")
    with pytest.raises(NotImplementedError):
        session.sql("CREATE TABLE q AS SELECT 1")
    with pytest.raises(NotImplementedError):
        session.sql("ALTER TABLE p ADD COLUMN c1 INT")


def test_not_implemented_schema_objects(mpp):
    """Reference NotImplemented matrix for schema objects
    (src/storage/mpp_schema_entry.cpp:72-128, mpp_catalog.cpp:130-132)."""
    import pytest

    mpp.sql("CREATE TABLE ni(c0 INT) PARTITION BY (c0) WITH BUCKETS 2")
    for stmt in [
        "CREATE INDEX idx ON ni(c0)",
        "CREATE VIEW v AS SELECT * FROM ni",
        "CREATE SEQUENCE seq",
        "CREATE TYPE mood AS ENUM ('a')",
        "DROP SCHEMA s1",
    ]:
        with pytest.raises(NotImplementedError):
            mpp.sql(stmt)


def test_remote_query_shim(mpp):
    """remote_query(addr, sql) compat (src/function/remote_query.cpp:20-53):
    validates the node address, runs the statement on the shared engine."""
    import pytest

    mpp.sql("CREATE TABLE rq(c0 INT, c1 TEXT) PARTITION BY (c0) WITH BUCKETS 2")
    mpp.sql("INSERT INTO rq VALUES (1, 'x'), (2, 'y')")
    mpp.master_add_node("localhost", 50051)
    df = mpp.remote_query("localhost:50051", "SELECT c0, c1 FROM rq WHERE c0 = 1")
    assert [tuple(r) for r in df.collect()] == [(1, "x")]
    with pytest.raises(ConnectionError, match="Failed to connect"):
        mpp.remote_query("10.0.0.9:50051", "SELECT 1")


def test_insert_column_list_applies_defaults(mpp):
    """INSERT with an explicit column list fills missing columns from
    declared defaults (ResolveDefaults parity,
    src/execution/mpp_physical_insert.cpp:150-181) or NULL."""
    mpp.sql(
        "CREATE TABLE ci(id INT, name TEXT DEFAULT 'anon', score DOUBLE) "
        "PARTITION BY (id) WITH BUCKETS 4"
    )
    assert mpp.sql("INSERT INTO ci(id) VALUES (1), (2)") == 2
    assert mpp.sql("INSERT INTO ci(id, score) VALUES (3, 1.5)") == 1
    rows = sorted(
        tuple(r) for r in mpp.sql("SELECT id, name, score FROM ci").collect()
    )
    assert rows == [(1, "anon", None), (2, "anon", None), (3, "anon", 1.5)]


def test_compact_and_bucket_stats(mpp):
    """Repeated inserts accumulate file sets; compact() rewrites buckets to
    few files without changing contents; bucket_stats() reports the layout."""
    mpp.sql("CREATE TABLE cp(c0 INT, c1 TEXT) PARTITION BY (c0) WITH BUCKETS 4")
    for batch in range(3):
        mpp.sql(f"INSERT INTO cp VALUES ({batch * 10}, 'a'), ({batch * 10 + 1}, 'b')")
    tbl = mpp.table("cp")
    before = {r.bucket: r for r in tbl.bucket_stats().collect()}
    assert sum(r.n_rows for r in before.values()) == 6
    assert any(r.n_files > 1 for r in before.values())
    data_before = sorted(tuple(r) for r in tbl.scan().collect())

    rewritten = tbl.compact()
    assert rewritten >= 1
    after = {r.bucket: r for r in tbl.bucket_stats().collect()}
    assert sum(r.n_rows for r in after.values()) == 6
    assert all(r.n_files <= 1 for r in after.values() if r.n_rows >= 0)
    assert sorted(tuple(r) for r in tbl.scan().collect()) == data_before
    # pruning still intact after compaction
    assert "Shards: 1/4" in tbl.explain(where="c0 = 1")


def test_show_tables_lists_distributed_tables(session):
    """SHOW TABLES routes to the MPP catalog (test/sql/mpp.test:41-44:
    t1 listed after CREATE; :165-167: empty after DROP — tombstone excluded).
    """
    assert rows(session.sql("SHOW TABLES")) == []
    session.sql("CREATE TABLE t1(c0 INT, c1 DOUBLE) PARTITION BY (c0) WITH BUCKETS 4")
    session.sql("CREATE TABLE a2(c0 INT) PARTITION BY (c0) WITH BUCKETS 2")
    assert rows(session.sql("SHOW TABLES")) == [("a2",), ("t1",)]
    session.sql("DROP TABLE t1")
    assert rows(session.sql("SHOW TABLES")) == [("a2",)]


def test_describe_distributed_table(session):
    session.sql(
        "CREATE TABLE d1(id INT NOT NULL, name TEXT DEFAULT 'anon', score DOUBLE) "
        "PARTITION BY (id) WITH BUCKETS 4"
    )
    got = rows(session.sql("DESCRIBE d1"))
    assert got == [
        ("id", "INTEGER", "NO", None, None, None),
        ("name", "VARCHAR", "YES", None, "'anon'", None),
        ("score", "DOUBLE", "YES", None, None, None),
    ]


def test_insert_null_into_not_null_column_fails(session):
    """NOT NULL parity: the reference's shard DDL carries constraints and
    DuckDB rejects the insert (create_distributed_table.cpp:107)."""
    session.sql(
        "CREATE TABLE nn(id INT, tag TEXT NOT NULL) PARTITION BY (id) WITH BUCKETS 4"
    )
    assert session.sql("INSERT INTO nn VALUES (1, 'a')") == 1
    with pytest.raises(Exception, match="NOT NULL constraint failed"):
        session.sql("INSERT INTO nn VALUES (2, NULL)")
    # failed write committed nothing: table still holds exactly the first row
    assert rows(session.sql("SELECT id, tag FROM nn")) == [(1, "a")]


def test_update_null_into_not_null_column_fails(session):
    """UPDATE applies insert's NOT NULL guard to the columns it assigns:
    the statement fails and commits nothing."""
    session.sql(
        "CREATE TABLE nn(id INT, tag TEXT NOT NULL, v INT) "
        "PARTITION BY (id) WITH BUCKETS 4"
    )
    session.sql("INSERT INTO nn VALUES (1, 'a', 10), (2, 'b', 20)")
    head = session.table("nn").snapshot()[0]
    with pytest.raises(Exception, match="NOT NULL constraint failed"):
        session.sql("UPDATE nn SET tag = NULL WHERE id = 1")
    assert session.table("nn").snapshot()[0] == head
    # a nullable column still takes NULL
    assert session.sql("UPDATE nn SET v = NULL WHERE id = 1") == 1
    assert rows(session.sql("SELECT id, tag, v FROM nn"), "id") == [
        (1, "a", None), (2, "b", 20)
    ]


def test_struct_partition_column(mpp):
    """Struct-typed columns in DDL + a struct-field partition path, with
    pruning through the dotted ref (the reference resolves partition refs
    through struct_extract, expression_helper.hpp:23-30) and Shards: k/n."""
    mpp.sql(
        "CREATE TABLE sp(id INT, s STRUCT(a INT, b TEXT)) "
        "PARTITION BY (s.a) WITH BUCKETS 6"
    )
    n = mpp.sql(
        "INSERT INTO sp VALUES (1, named_struct('a', 1, 'b', 'x')), "
        "(2, named_struct('a', 2, 'b', 'y')), (3, named_struct('a', 1, 'b', 'z'))"
    )
    assert n == 3
    assert rows(mpp.sql("SELECT id FROM sp WHERE s.a = 1"), "id") == [(1,), (3,)]
    assert "Shards: 1/6" in mpp.sql("EXPLAIN SELECT id FROM sp WHERE s.a = 1")
    tbl = mpp.table("sp")
    assert len(tbl.pruned_bucket_ids("s.a = 2")) == 1
    assert len(tbl.pruned_bucket_ids("s.a IN (1, 2)")) <= 2
    # non-partition struct fields and whole-struct filters never prune
    assert len(tbl.pruned_bucket_ids("s.b = 'x'")) == 6
    # a struct-field path that isn't declared errors like a missing column
    with pytest.raises(ValueError, match="does not exist"):
        mpp.sql("CREATE TABLE sp2(s STRUCT(a INT)) PARTITION BY (s.z) WITH BUCKETS 2")


def test_rowid_pseudo_column(mpp):
    """Shard-local rowid parity (mpp_table_scan.cpp:310-322): dense per
    bucket, repeats across buckets, exposed through SQL only when
    referenced."""
    from pyspark.sql import functions as F

    mpp.sql("CREATE TABLE rt(id INT, tag TEXT) PARTITION BY (id) WITH BUCKETS 4")
    mpp.sql("INSERT INTO rt VALUES " + ", ".join(f"({i}, 't{i}')" for i in range(8)))
    mpp.sql("INSERT INTO rt VALUES " + ", ".join(f"({i}, 'u{i}')" for i in range(8, 12)))
    tbl = mpp.table("rt")

    per_bucket = (
        tbl.scan_with_rowid(columns=["__bucket"])
        .groupBy("__bucket")
        .agg(
            F.count("*").alias("n"),
            F.count_distinct("rowid").alias("d"),
            F.max("rowid").alias("mx"),
            F.min("rowid").alias("mn"),
        )
        .collect()
    )
    assert sum(r.n for r in per_bucket) == 12
    for r in per_bucket:  # dense 0..n-1 within every bucket
        assert (r.d, r.mx, r.mn) == (r.n, r.n - 1, 0)

    # stable across reads (footer offsets + row_index are deterministic)
    a = sorted(map(tuple, tbl.scan_with_rowid(columns=["id"]).collect()))
    b = sorted(map(tuple, tbl.scan_with_rowid(columns=["id"]).collect()))
    assert a == b

    # SQL front door: usable in projection and WHERE when referenced...
    n_buckets_with_data = len({r["__bucket"] for r in per_bucket})
    zero = rows(mpp.sql("SELECT rowid, id FROM rt WHERE rowid = 0"))
    assert len(zero) == n_buckets_with_data
    assert all(r[0] == 0 for r in zero)
    # ...and absent from SELECT * otherwise (DuckDB's expose-on-reference)
    assert [c for c in mpp.sql("SELECT * FROM rt").columns] == ["id", "tag"]


def test_master_add_node_input_validation(mpp):
    """Error-text parity with the reference's Bind validation
    (master_add_node.cpp:35-45)."""
    import pytest

    with pytest.raises(ValueError, match="host cannot be NULL"):
        mpp.master_add_node(None, 1234)
    with pytest.raises(ValueError, match="port cannot be NULL"):
        mpp.master_add_node("h", None)
    with pytest.raises(ValueError, match="Invalid port number: 70000"):
        mpp.master_add_node("h", 70000)
    with pytest.raises(ValueError, match="Invalid port number: -1"):
        mpp.master_add_node("h", -1)


def test_optimize_statement_compacts(spark, mpp):
    """OPTIMIZE t (Delta's statement for compaction) rewrites each bucket
    down to one file through the snapshot-commit protocol; results are
    unchanged and the old generations become vacuum-able garbage."""
    mpp.sql("CREATE TABLE opt(k INT, grp INT) PARTITION BY (grp) WITH BUCKETS 2")
    for i in range(3):
        mpp.sql(f"INSERT INTO opt VALUES ({i}, 0), ({i + 10}, 1)")
    tbl = mpp.table("opt")
    files_before = len(tbl.snapshot_files())
    rewritten = mpp.sql("OPTIMIZE opt")
    assert rewritten >= 1
    tbl2 = mpp.table("opt")
    per_bucket = {}
    for rel in tbl2.snapshot_files():
        per_bucket.setdefault(rel.split("/", 1)[0], []).append(rel)
    assert all(len(v) == 1 for v in per_bucket.values())
    assert len(tbl2.snapshot_files()) < files_before
    assert mpp.sql("SELECT COUNT(*) AS n FROM opt").collect()[0][0] == 6
    assert mpp.sql("VACUUM opt") == files_before  # old generations reclaimed


def test_shard_placement_frozen_at_create(session):
    """Reference semantics (create_distributed_table.cpp:135-140 +
    test/sql/mpp.test:47-52): placement is computed at CREATE over the
    nodes registered at that moment — registering a node LATER never moves
    an existing table's shards, while new tables spread over all nodes."""
    session.sql("CREATE TABLE pf(c0 INT) PARTITION BY (c0) WITH BUCKETS 4")
    before = rows(
        session.sql(
            "SELECT shard_id, node FROM __mpp_system.shards ORDER BY shard_id"
        )
    )
    assert sorted(n for _, n in before).count(before[0][1]) == 2  # 2 nodes, 2 each
    session.master_add_node("127.0.0.1", 34567)
    after = rows(
        session.sql(
            "SELECT shard_id, node FROM __mpp_system.shards ORDER BY shard_id"
        )
    )
    assert after == before  # frozen
    session.sql("CREATE TABLE pf2(c0 INT) PARTITION BY (c0) WITH BUCKETS 6")
    counts = rows(
        session.sql(
            "SELECT node, count(*) AS n FROM __mpp_system.shards s "
            "JOIN __mpp_system.tables t ON s.table_oid = t.table_oid "
            "GROUP BY node ORDER BY node"
        )
    )
    # combined: pf's 4 shards over the original 2 nodes (2/2) + pf2's 6
    # over all 3 (2/2/2) → per-node totals 4/4/2
    assert sorted(n for _, n in counts) == [2, 4, 4]
    # pf2's 6 shards spread 2/2/2 over the THREE nodes now registered
    pf2_counts = rows(
        session.sql(
            "SELECT node, count(*) AS n FROM __mpp_system.shards "
            "WHERE table_oid = (SELECT max(table_oid) FROM __mpp_system.tables) "
            "GROUP BY node"
        )
    )
    assert sorted(n for _, n in pf2_counts) == [2, 2, 2]


def test_shard_placement_survives_catalog_reload(spark, session, tmp_path):
    """Placement is persisted metadata, not a per-read derivation."""
    from duckdb_mpp_spark.catalog import MppCatalog

    session.sql("CREATE TABLE pr(c0 INT) PARTITION BY (c0) WITH BUCKETS 4")
    before = {
        (r[0], r[1]): r[2]
        for r in rows(session.sql("SELECT * FROM __mpp_system.shards"))
    }
    reloaded = MppCatalog(session.catalog.warehouse)
    after = {
        (r["table_oid"], r["shard_id"]): r["node"]
        for r in reloaded.shards_df(spark).collect()
    }
    assert after == before


def test_compact_honors_target_files_per_bucket(mpp):
    """review r5: repartition on the bucket column alone hashed every row
    of a bucket into one task, so target_files_per_bucket > 1 silently
    produced exactly 1 file per bucket (and a huge bucket a single-task
    rewrite). The deterministic intra-bucket split must spread a bucket
    over multiple files when asked."""
    mpp.sql("CREATE TABLE cf(a INT, b INT) PARTITION BY (a) WITH BUCKETS 2")
    vals = ", ".join(f"({i % 7}, {i})" for i in range(400))
    mpp.sql(f"INSERT INTO cf VALUES {vals}")
    tbl = mpp.table("cf")
    before = sorted(tuple(r) for r in tbl.scan().collect())
    tbl.compact(target_files_per_bucket=3)
    files = tbl.snapshot_files()
    per_bucket = {}
    for rel in files:
        per_bucket.setdefault(rel.split("/", 1)[0], 0)
        per_bucket[rel.split("/", 1)[0]] += 1
    # every populated bucket spreads over >1 file (3 targeted; hash
    # collisions may merge some splits, but 1-file-per-bucket means no-op)
    assert all(n >= 2 for n in per_bucket.values()), per_bucket
    assert sorted(tuple(r) for r in tbl.scan().collect()) == before


def test_reserved_column_names_rejected(mpp):
    """__bucket / __split are storage-layout columns — a user column with
    either name would be clobbered by the write path (review r6)."""
    for bad in ("__bucket", "__split"):
        with pytest.raises(ValueError, match="reserved"):
            mpp.sql(
                f"CREATE TABLE r_{bad.strip('_')}(a INT, {bad} INT) "
                "PARTITION BY (a) WITH BUCKETS 2"
            )


def test_big_insert_splits_buckets_and_roundtrips(mpp, spark):
    """Write fan-out (r6): a batch whose planner-estimated volume exceeds
    one maxPartitionBytes-sized task per bucket spreads each bucket over
    multiple write tasks/files; rows, counts and sort clustering are
    unchanged. Forced into the at-scale regime by shrinking the task
    unit, exactly like scale_probe's write_split probe."""
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes", None)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16k")
    try:
        mpp.sql(
            "CREATE TABLE wsp(k INT, v TEXT) PARTITION BY (k) "
            "WITH BUCKETS 2 SORT BY (v)"
        )
        tbl = mpp.table("wsp")
        src = spark.range(20000).selectExpr(
            "CAST(id % 13 AS INT) AS k", "repeat('x', 50) || id AS v"
        )
        # write through a parquet file so the batch is scan-rooted (real
        # plan-size stats), as a bulk load would be
        import tempfile as _tf

        p = _tf.mkdtemp(prefix="wsp_src_") + "/src.parquet"
        src.write.parquet(p)
        n = tbl.insert(spark.read.parquet(p))
        assert n == 20000
        per_bucket = {}
        for rel in tbl.snapshot_files():
            b = rel.split("/", 1)[0]
            per_bucket[b] = per_bucket.get(b, 0) + 1
        assert all(c > 1 for c in per_bucket.values()), per_bucket
        assert tbl.scan().count() == 20000
        # COW update over the split files still rewrites exactly once
        from duckdb_mpp_spark import dml

        assert dml.update(tbl, {"v": "'y'"}, "k = 5") == (20000 // 13 + 1)
        got = sorted(
            tuple(r) for r in tbl.scan().where("k = 5").select("v").distinct().collect()
        )
        assert got == [("y",)]
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.files.maxPartitionBytes")
        else:
            spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
