"""SparkSession factory tuned for this engine.

Local mode is a stand-in for a real cluster: every setting here is chosen to
also be correct at 1000-executor / 100 TB scale (AQE on, partition coalescing,
skew-join handling, Arrow for the pandas-UDF boundary). The only local-only
knob is driver memory.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


@contextmanager
def conf_guard(spark: SparkSession, confs: dict[str, str]):
    """Set session confs for a block and RESTORE the prior values on exit.

    The one sanctioned way for an operator to mutate session conf (VERDICT
    r13 #4): ``tune_session`` memoizes per session, so a mutation that
    escapes its block is no longer masked by per-query re-application — it
    would leak into every later query in the session. Restore uses the
    saved value, never ``unset()``: unset resets to the GLOBAL default,
    not the session's builder/tune-time value.

    A failed restore is loud: every key is still attempted, then the first
    failure is raised — a silently swallowed restore would leak the
    block's value into every later query of the session."""
    saved: dict[str, str | None] = {}
    for k in confs:
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None  # key unset with no default
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield spark
    finally:
        failed: Exception | None = None
        for k, v in saved.items():
            try:
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
            except Exception as e:
                failed = failed or e
        if failed is not None:
            raise failed


def _graft_conf_overrides() -> dict[str, str]:
    """Ad-hoc experiment overrides: ``SPARK_GRAFT_CONF="k=v;k=v"`` (bench
    A/B runs without code edits; empty in normal operation). Shared by both
    session entry points so they can never diverge."""
    out: dict[str, str] = {}
    for kv in os.environ.get("SPARK_GRAFT_CONF", "").split(";"):
        if "=" in kv:
            k, _, v = kv.partition("=")
            out[k.strip()] = v.strip()
    return out


def get_spark(
    app_name: str = "duckdb-mpp-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        # Shuffle partitions track per-query DATA VOLUME, not core count:
        # at the sub-GB local benchmark scale a handful of reduce
        # partitions keeps every shuffle partition ≥ a few MB and strips
        # per-task scheduling overhead. r5 measured 8 beating 32 (suite
        # per-query-min 22.3 s vs 24.1 s); the r6 interleaved A/B over all
        # 30 headline queries went further: 4 beats 8 on 29 of 30 (totals
        # 18.8 s vs 25.8 s, −27%; only text_quality_score prefers 8 by
        # ~0.1 s), with 6 statistically tied with 4. Structured Streaming
        # shards its state store by this number (AQE never applies there),
        # so it benefits doubly. A cluster deployment overrides to
        # O(2 × total cores) via the constructor or SPARK_GRAFT_CONF;
        # CPU-bound Arrow kernels (the GEMM block pairs) pin their own
        # parallelism explicitly, and map-side parallelism still follows
        # defaultParallelism (= cores).
        shuffle_partitions = max(int(cpus) // 8, 4)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst=true (Spark's default, re-measured r4): coalesce
        # targets default parallelism, not advisoryPartitionSizeInBytes —
        # CPU-heavy reduce stages (windows, wide aggs) keep every core busy
        # instead of collapsing a 20 MB shuffle onto one task (measured 2×
        # on window_topk_per_group); partitions never shrink below
        # minPartitionSize, so tiny-task overhead stays bounded at scale
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # sources.partitionOverwriteMode=dynamic: COW DML rewrites only the
        # bucket dirs it touches (SURVEY §2.A7/A8 mapping).
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    for k, v in _graft_conf_overrides().items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable configs to an externally provided session
    (the driver hands us its own SparkSession in ``__spark_entry__``).

    Applied once per (session, overrides) — every ``spark.conf.set`` is a
    py4j round trip, and ``run_spark_query`` calls this per query, so the
    re-application burned ~33 ms × #queries of driver wall per bench sweep
    (measured r13) setting identical values. The settings are fixed for a
    given session except the ``SPARK_GRAFT_CONF`` env overrides, which key
    the memo so an A/B harness that mutates the env between calls still
    re-applies."""
    memo_key = tuple(sorted(_graft_conf_overrides().items()))
    if getattr(spark, "_graft_tuned", None) == memo_key:
        return spark
    # Volume-sized shuffle partitions — LOCAL masters only (review r5,
    # twice): the cores/4 heuristic is measured on sub-GB local runs; on a
    # real cluster it would cap reduce parallelism at a quarter of core
    # count, below even Spark's 200 default, and AQE only coalesces
    # DOWNWARD so the cap could never be recovered. Cluster sessions keep
    # whatever they arrived with (their own tuning or the 200 default);
    # local sessions still at the out-of-the-box 200 get the bench-measured
    # sizing. Explicit BUILDER-time settings are always respected; known
    # limitation (ADVICE r5): a runtime ``spark.conf.set(...,"200")`` made
    # before handing the session over is indistinguishable from the
    # untouched default and gets resized — set the key at builder time (or
    # via SPARK_GRAFT_CONF, which wins below) to pin it.
    shuffle = None
    try:
        sc = spark.sparkContext
        # a session whose BUILDER set the key explicitly — even to 200 —
        # keeps it (SparkConf records only startup-set keys, so this
        # distinguishes an explicit 200 from the runtime default)
        explicitly_set = sc.getConf().contains("spark.sql.shuffle.partitions")
        if sc.master.startswith("local") and not explicitly_set:
            if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
                shuffle = str(max(int(sc.defaultParallelism) // 8, 4))
    except Exception:
        pass
    conf = {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
    }
    if shuffle is not None:
        conf["spark.sql.shuffle.partitions"] = shuffle
    conf.update(_graft_conf_overrides())
    for k, v in conf.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-runtime-settable in this session; fine
    try:
        spark._graft_tuned = memo_key
    except Exception:
        pass
    return spark
