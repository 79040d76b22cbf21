#!/usr/bin/env python
"""Scale probe: measure how the engine's throughput scales with data size.

Builds a ~10× lineitem/orders (sf≈1: 6M lineitem rows) by unioning the sf0.1
fixture with shifted keys (key structure and value distributions preserved),
then times representative queries at sf0.1 and sf≈1. The interesting number
is the *throughput ratio*: if time grows ~linearly (ratio ≈ 1) the plan is
scan/shuffle-bound and will keep scaling; super-linear growth exposes an
operator that would fall over at 100 TB.

Writes replicas under /tmp (not committed); prints one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from duckdb_mpp_spark.session import get_spark  # noqa: E402

SRC = "/root/testdata/sf0.1"
DST = "/tmp/mpp_scale_sf1"
REPLICAS = 10

QUERIES = {
    # (fact-heavy agg) TPC-H Q1 shape
    "q01_agg": """
        SELECT l_returnflag, l_linestatus,
               SUM(l_quantity) AS sum_qty, COUNT(*) AS n
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    # fact-fact join + agg (orders × lineitem both scale)
    "q_join": """
        SELECT o_orderpriority, COUNT(*) AS n,
               SUM(l_quantity) AS qty
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        GROUP BY o_orderpriority
    """,
    # window over the full fact
    "q_window": """
        SELECT MAX(rnk) AS worst FROM (
          SELECT ROW_NUMBER() OVER (PARTITION BY l_suppkey ORDER BY l_extendedprice DESC) AS rnk
          FROM lineitem
        ) t
    """,
    # distinct aggregation (shuffle-heavy)
    "q_distinct": """
        SELECT COUNT(DISTINCT l_partkey) AS parts, COUNT(DISTINCT l_suppkey) AS supps
        FROM lineitem
    """,
}


def replicate(spark) -> None:
    if os.path.exists(DST):
        shutil.rmtree(DST)
    os.makedirs(DST)
    li = spark.read.parquet(f"{SRC}/lineitem.parquet")
    od = spark.read.parquet(f"{SRC}/orders.parquet")
    key_span = od.agg(F.max("o_orderkey")).collect()[0][0] + 1
    li_parts = [
        li.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * key_span))
        for i in range(REPLICAS)
    ]
    od_parts = [
        od.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(i * key_span))
        for i in range(REPLICAS)
    ]
    big_li = li_parts[0]
    for p in li_parts[1:]:
        big_li = big_li.union(p)
    big_od = od_parts[0]
    for p in od_parts[1:]:
        big_od = big_od.union(p)
    big_li.repartition(32).write.parquet(f"{DST}/lineitem.parquet")
    big_od.repartition(8).write.parquet(f"{DST}/orders.parquet")


def bench(spark, sf_dir: str) -> dict[str, float]:
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").createOrReplaceTempView("lineitem")
    spark.read.parquet(f"{sf_dir}/orders.parquet").createOrReplaceTempView("orders")
    out = {}
    for name, q in QUERIES.items():
        best = float("inf")
        spark.sql(q).write.format("noop").mode("overwrite").save()  # warm
        for _ in range(3):  # min-of-3 steady state: page cache + codegen warm
            t0 = time.perf_counter()
            spark.sql(q).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        out[name] = round(best, 3)
    return out


DOCS_SMALL = "/tmp/mpp_scale_docs1"
DOCS_BIG = "/tmp/mpp_scale_docs10"


def replicate_documents(spark) -> None:
    """Document replicas for the dedup probes. Every WORD is prefixed with a
    replica tag (``hello`` → ``zz3hello``), so shingles (and therefore
    minhashes, bands, candidate pairs) are DISJOINT across replicas while
    the within-replica duplicate structure — and the per-doc token count —
    is preserved exactly. Output and join fan-out then scale linearly in
    replicas by construction. (An earlier version spliced tag TOKENS between
    words; the resulting ``zz<i> <stopword> zz<i>`` shingles were shared by
    most docs in a replica, correlated the minhash minima, and collapsed LSH
    buckets into an artifact graph ~100× denser than the real corpus's —
    23M candidate pairs, max degree 3.4k — which made the verify/triangle
    probes measure the artifact, not the operator.) The 1-replica baseline
    gets the same transformation (tag zz0) so both scales are comparable."""
    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    span = docs.agg(F.max("doc_id")).collect()[0][0] + 1

    def tagged(i: int):
        return docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * span)).withColumn(
            "text", F.regexp_replace("text", "(^| )", f"$1zz{i}")
        )

    for path, n in ((DOCS_SMALL, 1), (DOCS_BIG, REPLICAS)):
        if os.path.exists(path):
            shutil.rmtree(path)
        big = tagged(0)
        for i in range(1, n):
            big = big.union(tagged(i))
        big.repartition(8 * n).write.parquet(f"{path}/documents.parquet")


def bench_dedup(spark, docs_dir: str) -> dict[str, float]:
    """MinHash-LSH candidate generation and Jaccard verify at both scales —
    the two dedup stages whose join shapes must stay linear (VERDICT r01
    flagged the old jaccard formulation as the scale risk)."""
    from duckdb_mpp_spark.operators.dedup import (
        jaccard_verify_from_docs,
        lsh_candidate_pairs,
        minhash_bands,
    )

    docs = spark.read.parquet(f"{docs_dir}/documents.parquet")
    out = {}

    def run(name, mk):
        mk().write.format("noop").mode("overwrite").save()  # warm
        # one timed rep after warmup: these pipelines rebuild the whole
        # LSH/shingle DAG per execution, so min-of-N doubles a minutes-long
        # probe for noise reduction the ratio doesn't need
        t0 = time.perf_counter()
        mk().write.format("noop").mode("overwrite").save()
        out[name] = round(time.perf_counter() - t0, 3)
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist()

    run("dedup_lsh_pairs", lambda: lsh_candidate_pairs(minhash_bands(docs)))

    from duckdb_mpp_spark.operators.dedup import simhash32, simhash_neighbor_pairs

    # r4: 5-block recall-complete banding replaced the single 16-bit prefix
    # band — this row proves the blocked self-join stays linear at 10×
    run(
        "dedup_simhash_pairs",
        lambda: simhash_neighbor_pairs(simhash32(docs)),
    )
    run(
        "dedup_jaccard",
        # candidate-filtered verify + 64-bit gram keys, mirroring the gate
        lambda: jaccard_verify_from_docs(
            docs, lsh_candidate_pairs(minhash_bands(docs))
        ).where(F.col("jaccard") >= 0.5),
    )
    from duckdb_mpp_spark.operators.graph import triangle_counts
    from duckdb_mpp_spark.operators.substrings import duplicated_span_stats

    run("substring_spans", lambda: duplicated_span_stats(docs))

    # Contamination check (VERDICT r6 #4: fixed-overhead vs data-cost
    # evidence for the watch-list gate): benchmark side is the FIXED-size
    # part-name corpus (tagged zz0 so replica-0 hits survive the doc
    # tagging), docs side scales — exactly production shape (eval set
    # constant, corpus grows). The timed cost is the corpus shingle scan +
    # broadcast-filtered hits.
    from duckdb_mpp_spark.operators.corpus import contamination_overlap

    bench_side = (
        spark.read.parquet(f"{SRC}/part.parquet")
        .select(
            F.col("p_partkey").alias("doc_id"),
            F.regexp_replace("p_name", "(^| )", "$1zz0").alias("text"),
        )
    )
    run(
        "contamination_overlap",
        lambda: contamination_overlap(docs, bench_side),
    )

    # Incremental dedup DAILY RUN against the persisted band-index table
    # (r7): the index build (full-corpus hash + one table insert) is
    # untimed setup — production carries it over from prior runs — so this
    # row isolates what a daily run pays: batch-only hashing (1/7 of
    # corpus), a bucket-pruned index read, one broadcast/shuffle join, one
    # aggregation. Near-linear here means the daily path scales with the
    # BATCH, the whole point of routing the index on its join key.
    import tempfile

    from duckdb_mpp_spark.mpp import MppSession
    from duckdb_mpp_spark.operators.dedup import (
        create_band_index,
        incremental_dedup,
        probe_band_index,
    )

    idx_dir = tempfile.mkdtemp(prefix="probe_band_idx_")
    idx = create_band_index(MppSession(spark, idx_dir), "band_index", 64)
    idx.insert(
        minhash_bands(docs.where(F.col("doc_id") % 7 != F.lit(0)))
        .groupBy("band", "band_key")
        .agg(F.min("doc_id").alias("doc_id"))
    )

    def daily_incremental():
        b = minhash_bands(
            docs.where(F.col("doc_id") % 7 == F.lit(0))
        ).localCheckpoint(eager=False)
        return incremental_dedup(
            probe_band_index(idx, b), b, materialize_batch=False, prefilter=False
        )

    run("dedup_incremental_daily", daily_incremental)
    shutil.rmtree(idx_dir, ignore_errors=True)

    # Triangles over the VERIFIED near-dup graph (jaccard >= 0.5), not raw
    # candidate pairs: the replica tagging correlates minhashes through hot
    # "zz<i> <stopword> zz<i>" shingles, so raw LSH buckets here are an
    # artifact ~100x denser than a real corpus's (23M pairs, max degree
    # 3.4k at 10x) and triangle fan-out on them measures the artifact, not
    # the operator. The verified graph has the density a real similarity
    # graph has; end-to-end cost stays dominated by the (linear) LSH+verify
    # stages it composes.
    def verified_triangles():
        pairs = jaccard_verify_from_docs(
            docs, lsh_candidate_pairs(minhash_bands(docs))
        ).where(F.col("jaccard") >= 0.5).select("doc_a", "doc_b")
        # eager: triangle_counts consumes the pair list from three legs,
        # and a LAZY checkpoint with multiple consumers races AQE's
        # concurrent stage submission into re-evaluating the whole verify
        # pipeline per leg (the r8 eager-checkpoint rule)
        return triangle_counts(pairs.localCheckpoint(eager=True))

    run("graph_triangles_verified", verified_triangles)
    return out


def bench_zonemap(spark) -> dict[str, float]:
    """A/B at sf≈1: identical date-sliced ingests into a SORT BY table vs a
    plain table; the same one-month scan. The delta is exactly the file-level
    zone-map skip (both layouts still get Spark's row-group pruning)."""
    import tempfile

    from duckdb_mpp_spark.mpp import MppSession

    mpp = MppSession(spark, tempfile.mkdtemp(prefix="probe_zm_"))
    od = spark.read.parquet(f"{DST}/orders.parquet")
    slices = (
        ("1992-01-01", "1995-01-01"),
        ("1995-01-01", "1997-01-01"),
        ("1997-01-01", "1999-01-01"),
    )
    where = (
        "o_orderdate >= DATE '1995-06-01' AND o_orderdate < DATE '1996-01-01'"
    )
    out = {}
    for name, sort in (("orders_zm", "o_orderdate"), ("orders_plain", None)):
        tbl = mpp.create_distributed_table(
            name, od.schema, "o_custkey", 12, sort_column=sort
        )
        for lo, hi in slices:
            tbl.insert(od.where(f"o_orderdate >= '{lo}' AND o_orderdate < '{hi}'"))
        tbl.scan(where=where).write.format("noop").mode("overwrite").save()  # warm
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            tbl.scan(where=where).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        out[f"{name}_scan"] = round(best, 3)
        if sort and tbl.last_file_skip:
            kept, total = tbl.last_file_skip
            out["zm_files_kept"], out["zm_files_total"] = kept, total
    out["zonemap_speedup"] = round(out["orders_plain_scan"] / out["orders_zm_scan"], 2)
    return out


def bench_storage(spark) -> dict[str, float]:
    """Snapshot-storage probe at sf≈1: is upsert really bucket-local?

    Builds a 16-bucket distributed table from the replicated orders, then
    times (a) an upsert whose batch hits ONE bucket, (b) a COW UPDATE with
    an unprunable predicate (all 16 buckets rewritten). If the merge is
    bucket-local, (a)/(b) ≈ 1/#buckets plus fixed job cost. Also reports
    snapshot-load time (scan planning metadata) on the multi-file table."""
    import tempfile

    from duckdb_mpp_spark import dml
    from duckdb_mpp_spark.mpp import MppSession

    mpp = MppSession(spark, tempfile.mkdtemp(prefix="mpp_probe_"))
    orders = spark.read.parquet(f"{DST}/orders.parquet")
    tbl = mpp.create_distributed_table("orders_st", orders.schema, "o_custkey", 16)
    tbl.insert(orders)

    def rewritten_bytes(before: dict, after: dict) -> int:
        return sum(
            os.path.getsize(os.path.join(tbl.path, rel))
            for rel in set(after) - set(before)
        )

    cdir = os.path.join(tbl.path, "_commits")

    def commit_listing() -> set[str]:
        return set(os.listdir(cdir))

    def commit_meta_bytes(before: set, after: set) -> int:
        """Bytes of NEW commit-metadata files (bucket manifests + manifest
        list) a write published — the sharded-manifest claim is that this
        is ∝ touched buckets, not O(#files)."""
        return sum(os.path.getsize(os.path.join(cdir, f)) for f in after - before)

    batch = (
        orders.where("o_custkey = 42")  # one partition value → one bucket
        .withColumn("o_orderpriority", F.lit("X-PROBE"))
    )
    pre = tbl.snapshot_files()
    pre_c = commit_listing()
    t0 = time.perf_counter()
    dml.upsert(tbl, batch, ["o_custkey", "o_orderkey"])
    t_upsert = time.perf_counter() - t0
    mid = tbl.snapshot_files()
    mid_c = commit_listing()
    upsert_bytes = rewritten_bytes(pre, mid)
    upsert_meta = commit_meta_bytes(pre_c, mid_c)

    t0 = time.perf_counter()
    dml.update(tbl, {"o_orderpriority": "'Y-PROBE'"}, "o_orderkey % 2 = 0")
    t_full = time.perf_counter() - t0
    full_bytes = rewritten_bytes(mid, tbl.snapshot_files())
    full_meta = commit_meta_bytes(mid_c, commit_listing())

    t0 = time.perf_counter()
    n_files = len(tbl.snapshot_files())
    t_meta = time.perf_counter() - t0
    # At sf≈1 both walls are fixed-job-overhead-bound (~1–2 s regardless);
    # the locality win is the BYTES ratio — upsert rewrites 1/16 of the
    # table, and at 100 TB wall time follows bytes, not job count.
    return {
        "upsert_one_bucket_sec": round(t_upsert, 3),
        "cow_update_all_buckets_sec": round(t_full, 3),
        "upsert_rewritten_mb": round(upsert_bytes / 1e6, 1),
        "full_update_rewritten_mb": round(full_bytes / 1e6, 1),
        "bytes_ratio": round(upsert_bytes / max(full_bytes, 1), 3),
        "upsert_commit_meta_kb": round(upsert_meta / 1e3, 1),
        "full_update_commit_meta_kb": round(full_meta / 1e3, 1),
        "commit_meta_ratio": round(upsert_meta / max(full_meta, 1), 3),
        "snapshot_load_sec": round(t_meta, 4),
        "snapshot_files": n_files,
    }


def probe_write_split(spark) -> dict[str, object]:
    """Write-parallelism probe (VERDICT r5 #6): a big batch into FEW
    buckets must not serialize on #buckets single-task writers. Builds a
    2-bucket table from the replicated sf≈1 orders (input partitions >>
    buckets), inserts, and reports files per bucket (== tasks per bucket,
    since each (bucket, split) shuffle group writes one file) plus a
    round-trip row count. Done-bar: files_per_bucket > 1 with count
    unchanged; the hash-green gate (mpp_create_insert_scan) holds
    correctness at driver scale."""
    import tempfile

    from duckdb_mpp_spark.mpp import MppSession

    mpp = MppSession(spark, tempfile.mkdtemp(prefix="mpp_split_"))
    # Write fan-out is sized in units of maxPartitionBytes (one write task
    # ≈ one scan task); sf≈1 fixtures are ~26 MB, so shrink the unit to put
    # the probe in the same bytes-per-bucket ≫ task-size regime a 100 TB
    # load hits with the 128 MB default.
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes", None)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1m")
    try:
        orders = spark.read.parquet(f"{DST}/orders.parquet")
        n_in = orders.count()
        tbl = mpp.create_distributed_table(
            "orders_split", orders.schema, "o_custkey", 2
        )
        t0 = time.perf_counter()
        tbl.insert(orders)
        t_ins = time.perf_counter() - t0
        in_parts = orders.rdd.getNumPartitions()
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.files.maxPartitionBytes")
        else:
            spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    per_bucket: dict[str, int] = {}
    for rel in tbl.snapshot_files():
        b = rel.split("/", 1)[0]
        per_bucket[b] = per_bucket.get(b, 0) + 1
    n_out = tbl.scan().count()
    return {
        "insert_sec": round(t_ins, 3),
        "input_partitions": in_parts,
        "buckets": 2,
        "files_per_bucket": dict(sorted(per_bucket.items())),
        "min_files_per_bucket": min(per_bucket.values()),
        "rows_round_trip_ok": bool(n_in == n_out),
    }


def probe_stage_budget(spark) -> dict[str, object]:
    """Stage-constant budget (VERDICT r5 #2/#5 closure rule): for each
    perf-watched query at sf0.1, measure wall AND the sum of executor task
    run time across every stage of the run (UI REST API; the probe session
    enables the UI). ``work_floor_sec`` = task time / cores is the
    best-case wall if scheduling were free; ``sched_residual_pct`` =
    (wall − floor)/wall is the fraction of wall that is per-stage/
    per-barrier scheduling constant — the part that amortizes to ~zero at
    100 TB where stages run minutes, not tens of ms. A query whose
    residual is ≥90% is fixed-overhead-bound at this fixture scale: its
    DuckDB ratio measures the scheduler, not the algorithm."""
    import json as _json
    import urllib.request

    from duckdb_mpp_spark.queries import _ensure_loaded, run_spark_query

    _ensure_loaded()
    sc = spark.sparkContext
    ui = sc.uiWebUrl
    if not ui:
        return {"error": "spark.ui.enabled=false; run via scale_probe.py stagebudget"}
    app = sc.applicationId
    cores = sc.defaultParallelism
    sf_dir = SRC

    def stages():
        # the UI store is fed by an async listener bus; poll until the
        # completed-stage set stops growing so late-arriving final stages
        # don't undercount task time (review r6)
        prev = None
        for _ in range(20):
            with urllib.request.urlopen(
                f"{ui}/api/v1/applications/{app}/stages?status=complete"
            ) as r:
                cur = _json.loads(r.read())
            if prev is not None and {s["stageId"] for s in cur} == {
                s["stageId"] for s in prev
            }:
                return cur
            prev = cur
            time.sleep(0.05)
        return prev

    def mat(df):
        df.write.format("noop").mode("overwrite").save()
        for rdd in sc._jsc.getPersistentRDDs().values():
            rdd.unpersist()

    names = [
        "dedup_ngram_jaccard", "dedup_incremental", "graph_triangle_count",
        "events_cohort_retention", "events_sessionization",
        "q13_customer_distribution", "q05_local_supplier_volume",
        "pipeline_global_shuffle",
        # text group (r6): 96-99% residual — same fixed-overhead regime
        "text_quality_score", "text_tfidf_keywords",
        "text_repetition_stats", "text_contamination_overlap",
        "dedup_substring_spans",
    ]
    out = {}
    for name in names:
        mat(run_spark_query(name, spark, sf_dir))  # warm
        before = {s["stageId"] for s in stages()}
        t0 = time.perf_counter()
        mat(run_spark_query(name, spark, sf_dir))
        wall = time.perf_counter() - t0
        mine = [s for s in stages() if s["stageId"] not in before]
        task_ms = sum(s.get("executorRunTime", 0) for s in mine)
        n_tasks = sum(s.get("numCompleteTasks", 0) for s in mine)
        floor = task_ms / 1000.0 / cores
        out[name] = {
            "wall_sec": round(wall, 3),
            "n_stages": len(mine),
            "n_tasks": n_tasks,
            "task_time_sec": round(task_ms / 1000.0, 3),
            "work_floor_sec": round(floor, 4),
            "sched_residual_pct": round(100 * (wall - floor) / wall, 1),
        }
    return out


def probe_events_overhead(spark) -> dict[str, object]:
    """Fixed-overhead decomposition evidence (SCALING.md bench section):
    the sub-second events queries are the entire remaining gap vs DuckDB
    at sf0.1. If their cost were data-bound, 10× rows → ~10× wall; if it
    is Spark's per-stage scheduling constant, wall barely moves. Measures
    the SQL-string events gates on the sf0.1 events table and a 10×
    replica. Replication shifts user_id only (user-key cardinality scales
    with data); timestamps repeat, so TIME-keyed group density is 10×
    denser than a real 10× corpus — fine for these user-keyed gates, but
    a time-keyed gate added here would need a ts shift too."""
    from duckdb_mpp_spark.queries import REGISTRY, _ensure_loaded
    from duckdb_mpp_spark.sources import load_table

    _ensure_loaded()
    names = [
        "events_cohort_retention",
        "events_sessionization",
        "events_resample_ffill",
        "events_user_features",
    ]
    ev = load_table(spark, SRC, "events")
    reps = []
    for i in range(REPLICAS):
        reps.append(
            ev.withColumn(
                "user_id", F.col("user_id") + F.lit(i * 1_000_000)
            )
        )
    big = reps[0]
    for r in reps[1:]:
        big = big.union(r)
    big_root = "/tmp/mpp_scale_events10"
    if os.path.exists(big_root):
        shutil.rmtree(big_root)
    out: dict[str, object] = {}
    try:
        # laid out as a sf-dir ({root}/events.parquet) so the CALLABLE
        # gates (size-switched final orders since r8/r9) can consult
        # load_table for their plan-size switch; the SQL inside them reads
        # the temp view registered below either way
        big.repartition(32).write.parquet(f"{big_root}/events.parquet")
        for label, df, sfd in (
            ("sf0.1", ev, SRC),
            ("x10", spark.read.parquet(f"{big_root}/events.parquet"), big_root),
        ):
            df.createOrReplaceTempView("events")
            for n in names:
                q = REGISTRY[n]
                if callable(q.spark):
                    def mk(q=q, sfd=sfd):
                        return q.spark(spark, sfd)
                else:
                    def mk(q=q):
                        return spark.sql(q.spark)
                mk().write.format("noop").mode("overwrite").save()  # warm
                best = float("inf")
                for _ in range(2):
                    t0 = time.perf_counter()
                    mk().write.format("noop").mode("overwrite").save()
                    best = min(best, time.perf_counter() - t0)
                out[f"{n}__{label}"] = round(best, 3)
        out["per_row_ratio_vs_linear"] = {
            n: round(out[f"{n}__x10"] / out[f"{n}__sf0.1"] / REPLICAS, 2)
            for n in names
        }
    finally:
        # the x10 view points at the replica we delete — leave the view on
        # the real table, and reclaim the replica even on mid-probe failure
        ev.createOrReplaceTempView("events")
        shutil.rmtree(big_root, ignore_errors=True)
    return out


def probe_simhash64(spark) -> dict[str, object]:
    """Candidate fan-out, 32-bit vs 64-bit simhash banding, on a
    LOW-ENTROPY corpus (ADVICE r4): docs drawn from a ~40-word vocabulary
    so fingerprints cluster. The measured quantity is the banded
    self-join's PRE-hamming-filter candidate-pair count — sum over
    (block, value) buckets of C(n,2) — computed from bucket sizes (exact,
    no materialized join). 32-bit/5-block keys carry only 6-7 bits, so
    candidates grow ~n^2/2^6.5; 64-bit blocks carry 12-13 bits and the
    same corpus collapses to near-linear."""
    from duckdb_mpp_spark.operators.dedup import (
        _simhash64_block_sql,
        _simhash64_bounds,
        _simhash_blocks,
        simhash32,
        simhash64,
    )

    vocab = [f"w{i}" for i in range(40)]
    n_docs = 20_000
    docs = (
        spark.range(n_docs)
        .withColumn(
            "text",
            F.concat_ws(
                " ",
                *[
                    F.lit(vocab[0]),
                    *[
                        F.element_at(
                            F.array(*[F.lit(w) for w in vocab]),
                            ((F.xxhash64(F.col("id"), F.lit(k)) % 40 + 40) % 40 + 1)
                            .cast("int"),
                        )
                        for k in range(12)
                    ],
                ],
            ),
        )
        .withColumnRenamed("id", "doc_id")
    )

    def bucket_pairs(banded) -> int:
        sizes = banded.groupBy("blk", "bval").count()
        row = sizes.agg(
            F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("p")
        ).collect()[0]
        return int(row["p"] or 0)

    fp32 = simhash32(docs).localCheckpoint(eager=False)
    b32 = fp32.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.expr(f"(simhash div {d}) % {m}").alias("bval"),
                    )
                    for i, (d, m) in enumerate(_simhash_blocks(5))
                ]
            )
        ).alias("x"),
    ).select("doc_id", "x.blk", "x.bval")
    fp64 = simhash64(docs).localCheckpoint(eager=False)
    b64 = fp64.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.expr(_simhash64_block_sql(s, e, "div")).alias("bval"),
                    )
                    for i, (s, e) in enumerate(_simhash64_bounds(5))
                ]
            )
        ).alias("x"),
    ).select("doc_id", "x.blk", "x.bval")
    c32, c64 = bucket_pairs(b32), bucket_pairs(b64)
    return {
        "n_docs": n_docs,
        "candidates_32bit": c32,
        "candidates_64bit": c64,
        "fanout_reduction": round(c32 / max(c64, 1), 1),
        "candidates_per_doc_32bit": round(c32 / n_docs, 1),
        "candidates_per_doc_64bit": round(c64 / n_docs, 1),
    }


def main() -> None:
    # parts: "core" (TPC-H shapes), "docs" (dedup/graph/substring),
    # "zonemap" (SORT BY A/B), "storage" (snapshot commit/upsert locality),
    # "simhash64" (32- vs 64-bit banding fan-out; opt-in, not in default)
    # — run separately to keep each under a CI/driver time budget; default
    # runs the first four.
    parts = set(sys.argv[1:]) or {"core", "docs", "zonemap", "storage"}
    spark = get_spark(
        app_name="scale-probe",
        extra_conf={"spark.ui.enabled": "true"} if "stagebudget" in parts else None,
    )
    small: dict[str, float] = {}
    big: dict[str, float] = {}
    result: dict[str, object] = {"replicas": REPLICAS}
    if parts & {"core", "zonemap", "storage"}:
        replicate(spark)
    if "core" in parts:
        small.update(bench(spark, SRC))
        big.update(bench(spark, DST))
    if "docs" in parts:
        replicate_documents(spark)
        small.update(bench_dedup(spark, DOCS_SMALL))
        big.update(bench_dedup(spark, DOCS_BIG))
    if small:
        result["sf0.1_sec"] = small
        result["sf1_sec"] = big
        result["per_row_ratio_vs_linear"] = {
            n: round(big[n] / small[n] / REPLICAS, 2) for n in small
        }  # 1.0 = perfectly linear
    if "zonemap" in parts:
        result["zonemap_ab_sf1"] = bench_zonemap(spark)
    if "storage" in parts:
        result["storage_sf1"] = bench_storage(spark)
        result["write_split_sf1"] = probe_write_split(spark)
    if "simhash64" in parts:
        result["simhash64_fanout"] = probe_simhash64(spark)
    if "events" in parts:
        result["events_overhead"] = probe_events_overhead(spark)
    if "stagebudget" in parts:
        result["stage_budget_sf0.1"] = probe_stage_budget(spark)
    print(json.dumps(result))
    for p in (DST, DOCS_SMALL, DOCS_BIG):
        shutil.rmtree(p, ignore_errors=True)


if __name__ == "__main__":
    main()
