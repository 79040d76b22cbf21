"""Structured Streaming surface.

The reference has NO streaming (SURVEY §2.B: "Streaming / watermarks / UDFs:
None") — this is north-star extension work, built on the idiomatic stack:
``readStream`` file source → watermark → windowed/session aggregation →
sink. Batch/stream parity is the correctness contract: every streaming
aggregation here has a batch twin, and tests assert they produce identical
results over the same files (the Dataset-is-a-table model makes that a real
invariant, not a coincidence).

Scale notes: file-source streaming shards input files across executors per
micro-batch; watermark state lives in the state store partitioned by group
key — the same hash-partitioning story as any agg shuffle. ``availableNow``
processes a backlog with bounded batches (the catch-up pattern for 100 TB
replays).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from duckdb_mpp_spark.sources import load_table

def _events_schema(ts_as_long: bool) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.LongType() if ts_as_long else T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


# shared session-lifetime tempdir recipe (review r7: was the third copy)
from duckdb_mpp_spark.tmputil import session_tmpdir as _gate_tmpdir


def _checkpoint_lineage(ckpt: str) -> str:
    """Replay-detection lineage id for a streaming checkpoint: a UUID
    minted once and stored IN the checkpoint directory, so the identity
    lives and dies with the checkpoint.

    Batch ids are only comparable within one checkpoint lifetime. Keying
    the manifest's replay map by the checkpoint PATH outlives a
    deleted/reset checkpoint (review r7): structured streaming restarts
    batch ids at 0, the manifest still holds the old maximum, and every
    new micro-batch is silently skipped — permanent data loss. With the
    UUID file, a reset checkpoint mints a NEW lineage, the skip-check
    finds no applied batches, and the stream re-ingests from its source —
    at-least-once (loudly duplicating, operator-visible) instead of
    silently losing data.

    ``ckpt`` MUST be the exact directory passed as ``checkpointLocation``
    (ADVICE r7): the UUID file only dies with the checkpoint if it lives
    INSIDE it. Minting it in a parent dir re-creates the path-keyed
    failure — an operator who deletes the Spark checkpoint (the
    documented reset procedure) restarts batch ids at 0 while the sibling
    lineage file and its recorded max batch id survive, so every new
    micro-batch reads as already-applied and is silently dropped."""
    os.makedirs(ckpt, exist_ok=True)
    p = os.path.join(ckpt, "_mpp_lineage")
    if not os.path.exists(p):
        import uuid

        try:
            # exclusive create: two racing initializers settle on one id
            with open(p, "x") as f:
                f.write(uuid.uuid4().hex)
        except FileExistsError:
            pass
    with open(p) as f:
        return f.read().strip()


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as an unbounded stream (file source). Adapts to the
    fixture's physical timestamp type exactly like the batch reader
    (``sources.tables``): TIMESTAMP(NANOS) parquet has no native Spark type,
    so it is read as raw int64 and truncated to µs; TIMESTAMP(MICROS) reads
    natively."""
    from duckdb_mpp_spark.sources.tables import _nanos_timestamp_cols

    src = os.path.join(sf_dir, "events.parquet")
    # conf-aware like load_table (review r7: the degrade-without-pyarrow
    # path must still fail loudly when nanosAsLong is already active —
    # ns columns would otherwise silently read as raw int64 BIGINTs)
    nanos_set = (
        str(
            spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
        ).lower()
        == "true"
    )
    ns_cols = _nanos_timestamp_cols(src, nanos_conf_set=nanos_set)
    if "ts" in ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.readStream.schema(_events_schema(ts_as_long="ts" in ns_cols))
    if os.path.isdir(src):
        # directory-style parquet dataset (the batch reader supports it):
        # pathGlobFilter matches LEAF file names, so globbing
        # 'events.parquet' against sf_dir would list ZERO files and every
        # streaming gate would silently return empty (review r6) — stream
        # the dataset directory itself instead
        raw = reader.parquet(src)
    else:
        raw = reader.option("pathGlobFilter", "events.parquet").parquet(sf_dir)
    if "ts" in ns_cols:
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def windowed_counts(events: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window aggregation. The watermark bounds state
    ONLY in update/append output modes (late data dropped, closed windows
    evicted); the GATES run this in complete mode — full-backlog replays
    where Spark retains all window state by definition and the watermark
    is inert (review r6). A continuous production deployment must use
    update/append (the foreachBatch file-sink shape below) for the
    bounded-state guarantee.

    NULL event times (hostile-streaming sweep, r10): the streaming runtime
    silently drops rows whose event-time is NULL at window assignment — the
    filter below makes that contract EXPLICIT and shared with the batch
    twin and the SQL oracle (which would otherwise group date_trunc(NULL)
    into a phantom NULL-hour row)."""
    return (
        events.where(F.col("ts").isNotNull())
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)")).alias("_tv"),
        )
        .select(
            F.col("window.start").alias("hour_start"),
            "event_type",
            "n_events",
            F.col("_tv").cast("double").alias("total_value"),
        )
    )


def session_windows(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Native session windows (30-min inactivity gap) per user.

    Exclusions pinned by the r10 hostile-streaming sweep, shared with the
    oracle: NULL-ts rows (no position on any timeline — the streaming
    runtime drops them at window assignment anyway, while the SQL oracle's
    lag-window would silently glue them onto the user's LAST session), and
    NULL-user rows (an unidentified user has no trackable behavior — the
    same convention the cohort and top-transitions gates pinned; a NULL
    pseudo-user would otherwise fabricate sessions from unrelated
    unattributable events)."""
    return (
        events.where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )


def run_stream_to_memory(agg: DataFrame, mode: str = "complete") -> DataFrame:
    """Drive a streaming aggregation over the full backlog synchronously
    (availableNow) into a memory sink; returns the result as a DataFrame."""
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark = agg.sparkSession
    # copy out + drop: the memory sink's temp view would otherwise pin the
    # full result in driver memory for the session lifetime — one leaked
    # table per gate per round (review r6)
    out = spark.table(name).localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    return out


def streaming_hourly_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate entry: the windowed agg computed BY THE STREAMING RUNTIME
    (readStream → watermark → window → memory sink), returned as a bounded
    result. Oracle: plain date_trunc aggregation — stream/batch parity."""
    agg = windowed_counts(stream_events(spark, sf_dir))
    return run_stream_to_memory(agg).select(
        F.col("hour_start").cast("timestamp"), "event_type", "n_events", "total_value"
    )


def batch_hourly_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of ``streaming_hourly_agg`` (same plan shape, bounded).
    Shares windowed_counts' explicit NULL-ts exclusion (r10)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.where(F.col("ts").isNotNull())
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)")).alias("_tv"),
        )
        .select(
            F.col("window.start").alias("hour_start"),
            "event_type",
            "n_events",
            F.col("_tv").cast("double").alias("total_value"),
        )
    )


def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` (30-min gap) computed by the streaming
    runtime. Oracle: gaps-and-islands SQL (new session when the gap from the
    previous event is >= 30 min — session windows are end-exclusive)."""
    agg = session_windows(stream_events(spark, sf_dir))
    return (
        run_stream_to_memory(agg)
        .select("user_id", F.col("session_start").cast("timestamp"), "n_events")
    )


def streaming_dedup_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: ``dropDuplicates`` keyed on
    (user_id, event_type), then a per-type count. Batch twin: COUNT over
    SELECT DISTINCT.

    State honesty (review r4): with the watermark column NOT in the dedup
    subset, Spark keeps every distinct key pair in the state store forever
    — results are exact over the whole stream, but state grows with
    distinct pairs (fine here: the key domain is users × event types, a
    bounded dimension-like set). For an unbounded key domain at 100 TB the
    variant is ``dropDuplicatesWithinWatermark``, which bounds state by
    the watermark at the cost of re-admitting duplicates farther apart
    than the watermark — a different (windowed) dedup contract that would
    not match this gate's global-DISTINCT oracle. The 24h watermark below
    is therefore deliberately NOT load-bearing for eviction; it documents
    event-time and keeps the pipeline append-compatible."""
    deduped = (
        stream_events(spark, sf_dir)
        .withWatermark("ts", "24 hours")
        .dropDuplicates(["user_id", "event_type"])
    )
    agg = deduped.groupBy("event_type").agg(F.count("*").alias("n_pairs"))
    return run_stream_to_memory(agg).select("event_type", "n_pairs")


def streaming_static_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the events stream enriched against the bounded
    customer dimension (broadcast per micro-batch), aggregated by segment."""
    customers = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment")
    )
    joined = stream_events(spark, sf_dir).join(
        customers, F.col("user_id") == F.col("c_custkey"), "inner"
    )
    agg = joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(38,6)")).alias("_tv"),
    )
    return run_stream_to_memory(agg).select(
        "c_mktsegment", "n_events", F.col("_tv").cast("double").alias("total_value")
    )


def user_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-user running event count + running quantized value sum, state kept
    by the state store across micro-batches (update output mode).

    The totals are accumulated as integers (floor(value·256)) so the
    result is exact and batch-order-independent — the same quantization
    contract as the batch engine. After draining the backlog, the latest
    update per user equals the batch GROUP BY (the oracle).

    Scale: state is hash-partitioned by user_id in the state store exactly
    like any agg shuffle; per-group pandas batches never materialize more
    than one group's micro-batch slice.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        n, tot = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            tot += int(np_floor_sum(pdf["value"]))
        state.update((n, tot))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_q": [tot]}
        )

    def np_floor_sum(values):
        import numpy as np

        arr = values.to_numpy(dtype="float64")
        # NULL/NaN values must be SKIPPED like the oracle's SUM (review r4:
        # np.floor(NaN).astype(int64) is undefined-behavior conversion —
        # INT64_MIN on most platforms — which would silently poison the
        # running total instead of matching SUM's null-skip)
        arr = arr[~np.isnan(arr)]
        return np.floor(arr * 256).astype("int64").sum()

    events = stream_events(spark, sf_dir)
    out = events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id long, n_events long, total_q long",
        stateStructType="n long, tot long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # Production sink shape (VERDICT r5 #8 — previously a memory sink that
    # retained O(users × batches) rows ON THE DRIVER): foreachBatch appends
    # each micro-batch's update rows to distributed storage, executor-side;
    # the driver never materializes a row. The append log is the standard
    # update-mode landing shape (a serving deployment would instead upsert
    # per-user latest — streaming_upsert_distributed shows that path); the
    # per-group state stays bounded in the executors' state store.
    sink_dir = _gate_tmpdir("stream_totals_sink_")

    def sink_batch(batch, _id):
        if not batch.isEmpty():
            batch.write.mode("append").parquet(sink_dir)

    q = (
        out.writeStream.foreachBatch(sink_batch)
        .outputMode("update")
        .option("checkpointLocation", _gate_tmpdir("stream_totals_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # explicit schema: an all-empty-batch stream leaves the sink dir
    # fileless, and schema inference would raise instead of returning the
    # empty frame the memory sink used to (review r6)
    updates = spark.read.schema(
        "user_id long, n_events long, total_q long"
    ).parquet(sink_dir)
    # update mode emits one row per (user, micro-batch); n_events is strictly
    # increasing per user, so the max struct is the final state.
    final = (
        updates.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "total_q")).alias("s"))
        .select(
            "user_id",
            F.col("s.n_events").alias("n_events"),
            (F.col("s.total_q").cast("double") / 256).alias("total_value_q"),
        )
    )
    return final


def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with watermarks on both sides: each 'click'
    joined to the same user's 'purchase' events within the following hour.
    Both sides buffer state bounded by watermark + the time-range condition
    (Spark derives the state-eviction bound from the join condition — the
    canonical watermarked interval-join pattern).

    Scale: join state is hash-partitioned by user_id; eviction keeps it
    O(events inside the watermark window), independent of stream length.
    """
    ev = stream_events(spark, sf_dir)
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") < F.col("click_ts") + F.expr("INTERVAL '1' HOUR")),
        "inner",
    )
    pairs = joined.select(
        "user_id", F.floor(F.col("value") * 256).cast("long").alias("vq")
    )
    # foreachBatch partial-aggregate file sink, NOT a memory sink of the
    # raw pairs (review r6): pair count is quadratic in per-user event
    # density inside the window, so materializing every (click, purchase)
    # row on the driver is exactly the O(pairs) driver hazard the
    # running-totals gate shed in r5. Each micro-batch reduces its pairs
    # to per-user partials (count + exact quantized sum — associative, so
    # ANY batch split merges identically) and appends those to files; the
    # final read merges partials. Driver never holds pair rows.
    sink_dir = _gate_tmpdir("stream_join_sink_")

    def agg_batch(batch, _id):
        if not batch.isEmpty():
            (
                batch.groupBy("user_id")
                .agg(
                    F.count(F.lit(1)).alias("c"),
                    F.sum("vq").alias("s"),
                )
                .write.mode("append")
                .parquet(sink_dir)
            )

    q = (
        pairs.writeStream.foreachBatch(agg_batch)
        .option("checkpointLocation", _gate_tmpdir("stream_join_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.read.schema("user_id long, c long, s long").parquet(sink_dir)
    return (
        out.groupBy("user_id")
        .agg(
            F.sum("c").alias("n_pairs"),
            (F.sum("s").cast("double") / 256).alias("purchase_value_q"),
        )
        .orderBy("user_id")
    )


def streaming_ingest_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest into a distributed bucketed table: ``foreachBatch``
    routes each micro-batch through ``DistributedTable.insert`` (hash
    routing to buckets + NOT NULL enforcement — the same write path as
    batch INSERT), then the result is a pruned aggregate scan of the table
    through the MPP SQL front door.

    This is the continuous-load path the reference cannot express (it has
    no streaming); at scale each micro-batch is one bucketed write job and
    ingest throughput is bounded by the sink's parallelism, not the driver.
    Exactly-once here comes from availableNow + the table's atomic
    snapshot commit per batch, with the micro-batch id recorded IN that
    commit (``insert(stream_batch=…)`` → manifest doc) — replay detection
    is transactional with the data, so there is no marker-vs-commit crash
    window at all (r7, closing the residue the r6 marker recipe
    documented): a crash after the commit simply re-delivers a batch id
    the snapshot already carries, and the check skips it."""
    from duckdb_mpp_spark.mpp import MppSession

    mpp = MppSession(spark, _gate_tmpdir("mpp_stream_ingest_"))
    mpp.sql(
        "CREATE TABLE stream_events("
        "event_id BIGINT NOT NULL, user_id BIGINT, event_type TEXT, value DOUBLE) "
        "PARTITION BY (user_id) WITH BUCKETS 8"
    )
    tbl = mpp.table("stream_events")
    ev = stream_events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value"
    )
    # lineage id minted INSIDE the exact dir Spark uses as its checkpoint
    # (not a parent — deleting the Spark checkpoint must reset the
    # identity too, ADVICE r7); a restarted production job passes the
    # same persistent dir
    ckpt_loc = os.path.join(_gate_tmpdir("mpp_stream_ckpt_"), "offsets")
    lineage = _checkpoint_lineage(ckpt_loc)

    def ingest_batch(batch, batch_id):
        # foreachBatch is at-least-once: a crash between the insert's
        # snapshot commit and the stream's offset commit re-delivers the
        # batch on resume, and a bare insert would append it twice. The
        # batch id rides IN the snapshot commit, so this check and the
        # data are one atomic unit (batch ids are monotone per lineage,
        # hence the <= max-applied comparison).
        applied = tbl.applied_stream_batch(lineage)
        if applied is not None and batch_id <= applied:
            return
        # Empty micro-batches (restart with no new data, 0-row source file)
        # must not reach insert: its Observation-based row count is the
        # exact foreachBatch + AQE empty-relation hazard dml.upsert was
        # rewritten to avoid — AQE plans CollectMetrics away and obs.get
        # blocks forever (review r4). No commit for an empty batch also
        # means no replay record — harmless, replaying an empty batch is
        # a no-op by construction.
        if not batch.isEmpty():
            tbl.insert(batch, stream_batch=(lineage, batch_id))

    q = (
        ev.writeStream.foreachBatch(ingest_batch)
        .option("checkpointLocation", ckpt_loc)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return mpp.sql(
        """
        SELECT event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
        FROM stream_events
        GROUP BY event_type
        ORDER BY event_type
        """
    )


def streaming_upsert_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously maintained per-user aggregate table via streaming
    MERGE: each micro-batch's per-user (count, quantized value sum) is
    combined with the table's current totals and applied with
    ``dml.upsert`` — one atomic snapshot commit per batch, so a reader
    between batches always sees a complete, consistent aggregate.

    Deterministic under ANY micro-batch split because the merge is a sum
    (commutative/associative); value sums are pre-quantized to exact
    integers (floor(value·256)), so results are bit-identical to the batch
    oracle. This is the standard continuous-rollup recipe (foreachBatch +
    batch-id-guarded MERGE) that plain append sinks can't express."""
    from duckdb_mpp_spark.mpp import MppSession

    mpp = MppSession(spark, _gate_tmpdir("mpp_stream_upsert_"))
    mpp.sql(
        "CREATE TABLE user_totals(user_id BIGINT NOT NULL, n_events BIGINT, "
        "total_q BIGINT) PARTITION BY (user_id) WITH BUCKETS 8"
    )
    tbl = mpp.table("user_totals")
    # NULL user_id filtered in BOTH dialects (oracle mirrors): the rollup
    # key is declared NOT NULL (upsert requires a routable key), so a NULL
    # user event would crash the write while the plain GROUP BY oracle
    # emits a NULL group (review r6)
    ev = (
        stream_events(spark, sf_dir)
        .select("user_id", "value")
        .where(F.col("user_id").isNotNull())
    )
    # lineage inside the exact checkpointLocation dir (ADVICE r7 — see
    # _checkpoint_lineage)
    ckpt_loc = os.path.join(_gate_tmpdir("mpp_upsert_ckpt_"), "offsets")
    lineage = _checkpoint_lineage(ckpt_loc)

    def merge_batch(batch, batch_id):
        # the merge is ADDITIVE (reads current totals, adds the batch), so
        # at-least-once re-delivery would double-count — the batch id is
        # committed WITH the merged snapshot (dml.upsert stream_batch),
        # making the skip-check transactional with the data (r7; the r6
        # marker file left a crash window between commit and marker where
        # a re-delivered batch double-added).
        applied = tbl.applied_stream_batch(lineage)
        if applied is not None and batch_id <= applied:
            return
        agg = batch.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_new"),
            F.sum(F.floor(F.col("value") * 256).cast("long")).alias("q_new"),
        )
        cur = tbl.scan().withColumnsRenamed(
            {"n_events": "n_old", "total_q": "q_old"}
        )
        merged = (
            agg.join(cur, "user_id", "left")
            .select(
                "user_id",
                (F.coalesce("n_old", F.lit(0)) + F.col("n_new")).alias("n_events"),
                # q_new needs the coalesce too (review r4): a batch whose
                # values for a user are all NULL sums to NULL, and
                # q_old + NULL would REPLACE the accumulated total with
                # NULL on upsert — the batch oracle's SUM skips NULLs.
                (
                    F.coalesce("q_old", F.lit(0)) + F.coalesce("q_new", F.lit(0))
                ).alias("total_q"),
            )
        )
        mpp.upsert(
            "user_totals", merged, ["user_id"],
            stream_batch=(lineage, batch_id),
        )

    q = (
        ev.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", ckpt_loc)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return mpp.sql(
        """
        SELECT user_id, n_events,
               CAST(total_q AS DOUBLE) / 256 AS total_value_q
        FROM user_totals
        ORDER BY user_id
        """
    )


def streaming_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming crawl-dedup against a PERSISTED signature index — the
    production shape of continuous corpus ingestion: each micro-batch of
    new documents is minhashed, deduped against the signature index via
    :func:`incremental_dedup` (band-bucket equi-joins; the corpus itself
    is never touched), its verdicts appended to a verdict table, and its
    OWN signatures appended to the index so later batches dedup against
    it. Both sinks are DistributedTables since r8: each append is one
    snapshot commit carrying the micro-batch id
    (``manifest.commit(stream_batch=…)``), so replay detection is
    transactional with the data on BOTH sinks — the last marker-file
    recipe in the streaming layer is gone (r7 verdict task #6). The
    reference has no streaming at all; batch-side parity is the
    `dedup_incremental` oracle.

    Determinism: today's crawl arrives as ONE file → availableNow runs it
    as one micro-batch, making 'dup_batch' (matched an earlier doc in the
    same delivery) batch-split-free; a multi-day pipeline is multiple runs
    of this query, each leaving the index larger — exercised by
    tests/test_streaming.py. At 100 TB the index is ~10⁻³ of corpus bytes
    and the per-batch cost is O(batch + matches), independent of corpus
    size. The index table comes from the batch gate's recipe,
    :func:`create_band_index`: signatures land pre-partitioned on their
    join key. Unlike
    the gate's index it stores every (doc, band) occupant, not the min doc
    per key."""
    from duckdb_mpp_spark.mpp import MppSession
    from duckdb_mpp_spark.operators.dedup import create_band_index, minhash_bands

    docs = load_table(spark, sf_dir, "documents")
    mpp = MppSession(spark, _gate_tmpdir("dedup_stream_mpp_"))
    index_tbl = create_band_index(mpp, "crawl_band_index", 8)
    mpp.sql(
        "CREATE TABLE crawl_verdicts(doc_id BIGINT, verdict TEXT, "
        "dup_of BIGINT) PARTITION BY (doc_id) WITH BUCKETS 8"
    )
    verdict_tbl = mpp.table("crawl_verdicts")
    # persisted index: signatures of the already-crawled corpus
    index_tbl.insert(minhash_bands(docs.where("doc_id % 7 != 0")))
    crawl_dedup_day(
        spark, docs.where("doc_id % 7 = 0"), index_tbl, verdict_tbl
    )
    return verdict_tbl.scan().orderBy("doc_id")


def crawl_dedup_day(spark: SparkSession, day_docs: DataFrame,
                    index_tbl, verdict_tbl,
                    checkpoint_dir: str | None = None) -> None:
    """One crawl delivery through the streaming dedup pipeline: stream the
    day's documents (one file → one micro-batch), dedup each batch against
    the persisted index table, append verdicts, append the batch's
    signatures to the index. Reusable across days — tests drive multiple
    days to prove the index actually grows. ``index_tbl``/``verdict_tbl``
    are :class:`DistributedTable` sinks.

    Retry idempotence (review r5 → r8): foreachBatch offers at-least-once
    — a crash between the two appends and the checkpoint commit re-runs
    the batch. Until r7 a per-batch marker file (written LAST) closed the
    wide re-delivery window but left the narrow one open: a crash between
    the index append and the marker re-ran the batch against an index
    already holding its own bands, re-verdicting every doc as a duplicate
    of itself. With DistributedTable sinks the batch id rides INSIDE each
    table's snapshot commit, and each append is guarded by ITS OWN
    table's applied-batch record, so every crash point resumes exactly:

    - crash before the verdict commit → neither table applied → full
      re-run (verdicts still read the index WITHOUT this batch's bands,
      because the verdict append is ordered first);
    - crash between the two commits → verdicts skip (applied), only the
      index append re-runs;
    - crash after both commits but before the stream's offset commit →
      both skip; re-delivery is a no-op.

    There is no marker file left to drift from the data. The guard only
    has cross-CALL effect when the caller supplies ``checkpoint_dir``
    (review r6: with the default throwaway dir, a retried CALL starts a
    fresh source+offsets lineage — production retries of a crashed day
    must pass the same persistent dir so source, offsets, and the replay
    lineage resume as one unit)."""
    from duckdb_mpp_spark.operators.dedup import incremental_dedup, minhash_bands

    ckpt_dir = checkpoint_dir or _gate_tmpdir("dedup_ckpt_")
    src_dir = os.path.join(ckpt_dir, "src")
    # mode('ignore'): on a RETRIED day the crashed call already staged the
    # source; keeping it preserves the offset lineage the batch ids key on
    day_docs.coalesce(1).write.mode("ignore").parquet(src_dir)
    # lineage inside the exact checkpointLocation dir (ADVICE r7): batch
    # ids are only unique within one checkpoint lifetime, and the identity
    # must die with the checkpoint
    ckpt_loc = os.path.join(ckpt_dir, "offsets")
    lineage = _checkpoint_lineage(ckpt_loc)

    def dedup_batch(batch, batch_id):
        # skip checks FIRST (review r8): a fully re-delivered batch (crash
        # after both commits but before the offset commit) must not pay
        # the minhash pipeline just to skip both inserts — the applied
        # reads are cheap manifest metadata
        applied_v = verdict_tbl.applied_stream_batch(lineage)
        applied_i = index_tbl.applied_stream_batch(lineage)
        if (
            applied_v is not None
            and batch_id <= applied_v
            and applied_i is not None
            and batch_id <= applied_i
        ):
            return
        if batch.isEmpty():
            return  # replaying an empty batch is a no-op by construction
        bands = minhash_bands(batch).localCheckpoint(eager=True)
        # verdicts FIRST: they must be computed against the index as it
        # stood BEFORE this batch's bands — the ordering plus per-table
        # skip checks make every crash point safe (docstring)
        if applied_v is None or batch_id > applied_v:
            verdicts = incremental_dedup(
                index_tbl.scan(), bands, materialize_batch=False
            )
            verdict_tbl.insert(
                verdicts, stream_batch=(lineage, batch_id)
            )
        if applied_i is None or batch_id > applied_i:
            index_tbl.insert(bands, stream_batch=(lineage, batch_id))

    q = (
        spark.readStream.schema(day_docs.schema)
        .parquet(src_dir)
        .writeStream.foreachBatch(dedup_batch)
        .option("checkpointLocation", ckpt_loc)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
