"""The benchmark's workloads and the loop that runs one.

Both workloads are a closed loop from one client: one thread issues the
next op only after the previous one has returned. Each op is timed through
full consumption of its result: ``collect()`` for front-door reads, the
noop sink for gates. Blocks are never unpersisted between ops.

The program is driven only through its public entry points:
``MppSession.sql``, ``MppSession.upsert``/``insert_df``/
``create_distributed_table``,
``sources.load_table``/``register_views`` and ``queries.run_spark_query``.
"""

from __future__ import annotations

import itertools
import os
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass

from data import fixture_dir, read_fixtures, vocabulary
from script import (COLOCATED_CUSTOMER, COLOCATED_ORDERS, KEY_COLUMNS,
                    READ_KINDS, Op, llm_pass, serving_blocks, setup_batch_bounds)

# LLM-pipeline gates, fixed here so that edits to bench.py's lists cannot
# change the workload. Five of the 19: the per-run time budget holds one
# warm-up and one timed pass of these. They cover the operator modules the
# roadmap targets: the job-floor gates (graph_triangle_count 17 jobs,
# pipeline_decontaminate_train 12), the size-regime switches of span
# cutting and of the fast-jaccard recall certificate, and MinHash LSH.
LLM_GATES = (
    "dedup_minhash_lsh_pairs", "dedup_ngram_jaccard_fast",
    "graph_triangle_count", "dedup_cut_spans", "pipeline_decontaminate_train",
)
# One TPC-H gate keeps the query layer (``queries.build_ms``) measured.
ANALYTICS_GATES = ("q13_customer_distribution",)


@dataclass
class Done:
    """One executed op: wall seconds, the program's result (rows as
    ``(columns, tuples)`` for reads, an int for writes), and the error
    text if it raised."""

    op: Op
    op_id: str
    seconds: float
    value: object = None
    error: str | None = None


class Runner:
    """Executes ops against one ``MppSession``; with a tracer, tags each
    op's Spark jobs with a job group named after the op."""

    def __init__(self, spark, fixture_dir: str, tracer=None):
        self.spark = spark
        self.fixture_dir = fixture_dir
        self.tracer = tracer
        self.tag_jobs = False
        self.mpp = None
        self._count = 0

    def _span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def _group(self, group: str) -> None:
        if self.tag_jobs:
            self.spark.sparkContext.setJobGroup(group, group)

    def run(self, op: Op, phase: str, collect_gates: bool = False) -> Done:
        self._count += 1
        op_id = f"{phase}{self._count}"
        batch = None
        if op.kind == "upsert":  # the client builds its batch before timing
            schema = self.mpp.table(op.name).meta.schema
            batch = self.spark.createDataFrame(list(op.rows), schema)
        if self.tracer:
            self.tracer.op = op_id
        t0 = time.perf_counter()
        try:
            value, error = self._execute(op, op_id, batch, collect_gates), None
        except Exception as e:  # a failed op is counted, not fatal
            value, error = None, f"{type(e).__name__}: {e}"
            traceback.print_exc(file=sys.stderr)
        seconds = time.perf_counter() - t0
        if self.tracer:
            self.tracer.op = None
        if self.tag_jobs:
            self.spark.sparkContext.setJobGroup("idle", "idle")
        return Done(op, op_id, seconds, value, error)

    def _execute(self, op: Op, op_id: str, batch, collect_gates: bool):
        if op.kind == "gate":
            from duckdb_mpp_spark.queries import run_spark_query

            self._group(f"{op_id}:build")
            layer = "queries" if op.name in ANALYTICS_GATES else "operators"
            with self._span(f"{layer}.build"):
                df = run_spark_query(op.name, self.spark, self.fixture_dir)
            self._group(op_id)
            if collect_gates:
                with self._span("collect"):
                    return df.columns, [tuple(r) for r in df.collect()]
            with self._span("sink"):
                df.write.format("noop").mode("overwrite").save()
            return None
        self._group(op_id)
        if op.kind == "upsert":
            return self.mpp.upsert(op.name, batch, KEY_COLUMNS[op.name])
        result = self.mpp.sql(op.sql)
        if op.kind in READ_KINDS:
            with self._span("collect"):
                return result.columns, [tuple(r) for r in result.collect()]
        return result


class Workload:
    """One workload: set-up of its distributed table, a warm-up, timed
    units (whole blocks or passes, so the op mix is the same in every
    run), and end-of-run maintenance."""

    name: str
    scale: str  # fixture directory under data/
    table: str  # the mutable distributed table
    buckets: int
    source: str  # fixture the table is loaded from
    # DuckDB mirror: fixtures exposed as views under their own names (the
    # gate oracles read them), and distributed table -> source fixture
    mirror_views: tuple[str, ...] = ()
    mirror_tables: dict[str, str]
    # about how long one unit runs on a 4-core box: ``--seconds`` becomes
    # a whole number of units, so every run of a workload does the same work
    unit_seconds: float

    def __init__(self, seed: int):
        self.seed = seed
        self.fixture_dir = fixture_dir(self.scale)
        self.fixtures = read_fixtures(self.fixture_dir)
        size = os.path.getsize(os.path.join(self.fixture_dir, f"{self.source}.parquet"))
        self.source_bytes_per_row = size / self.fixtures[self.source].num_rows

    def create(self, runner: Runner, warehouse: str) -> None:
        """Create the table on a fresh warehouse."""
        raise NotImplementedError

    def load(self, runner: Runner) -> int:
        """Bulk-load the tables; returns rows loaded into ``table``."""
        raise NotImplementedError

    def unit(self, i: int) -> list[Op]:
        """Unit ``i`` of the op script; unit 0 belongs to the warm-up."""
        raise NotImplementedError

    def units(self):
        """The timed units, from unit 1 on."""
        return map(self.unit, itertools.count(1))

    def warm_ops(self) -> list[Op]:
        """The first op of each kind (each gate) in unit 0; the rest of
        unit 0 is never run."""
        seen, ops = set(), []
        for op in self.unit(0):
            if (op.kind, op.name) not in seen:
                seen.add((op.kind, op.name))
                ops.append(op)
        return ops

    def maintenance_ops(self) -> list[Op]:
        return [Op("maintenance", f"OPTIMIZE {self.table}"),
                Op("maintenance", f"VACUUM {self.table}")]


class Serving(Workload):
    """Front-door mix on ``orders``: point and month-range SELECTs, small
    INSERTs, keyed UPDATE/DELETE and upserts, Zipf-skewed customers; plus a
    join and a full-table aggregate over co-located copies of ``orders``
    and ``customer``."""

    name = "serving"
    scale = "sf0.1"
    table = "orders"
    buckets = 12
    source = "orders"
    mirror_tables = {"orders": "orders", COLOCATED_ORDERS: "orders",
                     COLOCATED_CUSTOMER: "customer"}
    unit_seconds = 14.0
    max_blocks = 60  # enough for --seconds 60 even at a second per op

    def __init__(self, seed):
        super().__init__(seed)
        src = self.fixtures[self.source]
        self.blocks = serving_blocks(
            seed, src["o_custkey"].to_numpy(), src["o_orderkey"].to_numpy(),
            self.max_blocks)
        self.bounds = setup_batch_bounds()

    def create(self, runner, warehouse):
        from duckdb_mpp_spark.mpp import MppSession
        from duckdb_mpp_spark.sources import load_table

        runner.mpp = MppSession(runner.spark, warehouse)
        runner.mpp.sql(
            "CREATE TABLE orders (o_orderkey BIGINT, o_custkey BIGINT, "
            "o_orderstatus VARCHAR, o_totalprice DOUBLE, o_orderdate TIMESTAMP, "
            "o_orderpriority VARCHAR) PARTITION BY (o_custkey) "
            f"WITH BUCKETS {self.buckets} SORT BY (o_orderdate)")
        for name, source, key in ((COLOCATED_ORDERS, "orders", "o_custkey"),
                                  (COLOCATED_CUSTOMER, "customer", "c_custkey")):
            schema = load_table(runner.spark, self.fixture_dir, source).schema
            runner.mpp.create_distributed_table(name, schema, key, self.buckets,
                                                colocated=True)

    def load(self, runner):
        from duckdb_mpp_spark.sources import load_table

        src = load_table(runner.spark, self.fixture_dir, self.source)
        # range-disjoint loads: each bucket gets one file per date range,
        # which is what lets the zone maps skip files on month ranges
        rows = sum(
            runner.mpp.insert_df(
                self.table, src.where(f"o_orderdate >= {lo} AND o_orderdate < {hi}"))
            for lo, hi in self.bounds)
        runner.mpp.insert_df(COLOCATED_ORDERS, src)
        runner.mpp.insert_df(COLOCATED_CUSTOMER, load_table(
            runner.spark, self.fixture_dir, "customer"))
        return rows

    def unit(self, i: int) -> list[Op]:
        return self.blocks[i]


class LlmPipeline(Workload):
    """The LLM-pipeline gates and one TPC-H gate, plus rounds of corpus
    maintenance on ``corpus`` (merge, takedown, relabel) and a read-back
    in every pass."""

    name = "llm_pipeline"
    scale = "sf0.01"
    table = "corpus"
    buckets = 8
    source = "documents"
    mirror_views = ("orders", "customer", "documents")
    mirror_tables = {"corpus": "documents"}
    unit_seconds = 17.0

    def __init__(self, seed):
        super().__init__(seed)
        self.n_docs = self.fixtures[self.source].num_rows
        self.vocab = vocabulary(self.fixtures[self.source])

    def create(self, runner, warehouse):
        from duckdb_mpp_spark.mpp import MppSession
        from duckdb_mpp_spark.sources import register_views

        register_views(runner.spark, self.fixture_dir)
        runner.mpp = MppSession(runner.spark, warehouse)
        runner.mpp.sql(
            "CREATE TABLE corpus (doc_id BIGINT, text VARCHAR, lang VARCHAR, "
            "source VARCHAR, n_chars BIGINT) PARTITION BY (doc_id) "
            f"WITH BUCKETS {self.buckets}")

    def load(self, runner):
        from duckdb_mpp_spark.sources import load_table

        return runner.mpp.insert_df(
            self.table, load_table(runner.spark, self.fixture_dir, self.source))

    def unit(self, i: int) -> list[Op]:
        return llm_pass(self.seed, i, list(LLM_GATES + ANALYTICS_GATES),
                        self.n_docs, self.vocab)


WORKLOADS = {w.name: w for w in (Serving, LlmPipeline)}
