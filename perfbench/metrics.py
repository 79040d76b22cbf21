"""End-to-end and per-layer metrics of one run.

End-to-end metrics come from the untraced timed phase, except
``setup_s``: process start to the first timed op (imports, Spark session
start, table set-up and the untimed warm-up), with the table set-up counted
once, as the median of its repetitions. Per-layer metrics
come from the traced phase of a ``--trace 1`` run: layer times and call
counts are per timed op (totals divided by the phase's op count), so runs
with different op counts compare; ``*_end`` metrics describe the table and
the process at the end of the timed phase; ``resources.peak_rss_mb`` is
the peak RSS of the Spark JVM plus the Python process; ``table.compact_ms``,
``table.vacuum_ms`` and ``table.vacuum_files_removed`` describe the
end-of-run OPTIMIZE and VACUUM.
"""

from __future__ import annotations

import os

from script import READ_KINDS
from stats import median
from tracing import ExecStats, outermost, self_times

END_TO_END_UNITS = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "read_p50_ms": "ms",
    "write_p50_ms": "ms",
    "ingest_rows_per_s": "rows/s",
    "disk_bytes_per_user_byte": "ratio",
}

PER_LAYER_UNITS = {
    "session.start_ms": "ms",
    "sources.load_table_ms": "ms",
    "mpp.sql_calls": "count",
    "mpp.sql_self_ms": "ms",
    "mpp.plan_ms": "ms",
    "collect.ms": "ms",
    "catalog.ms": "ms",
    "pruning.derive_ms": "ms",
    "pruning.eval_calls": "count",
    "pruning.eval_ms": "ms",
    "pruning.buckets_kept_ratio": "ratio",
    "zonemap.bounds_ms": "ms",
    "zonemap.files_kept_ratio": "ratio",
    "manifest.load_calls": "count",
    "manifest.load_ms": "ms",
    "manifest.commit_calls": "count",
    "manifest.commit_ms": "ms",
    "manifest.commit_conflicts": "count",
    "manifest.footer_reads": "count",
    "manifest.footer_ms": "ms",
    "manifest.versions_end": "count",
    "manifest.live_files_end": "count",
    "manifest.dead_files_end": "count",
    "table.scan_ms": "ms",
    "colocated.scan_ms": "ms",
    "table.insert_ms": "ms",
    "table.insert_rows": "count",
    "table.compact_ms": "ms",
    "table.vacuum_ms": "ms",
    "table.vacuum_files_removed": "count",
    "table.files_per_bucket_end": "count",
    "dml.update_ms": "ms",
    "dml.delete_ms": "ms",
    "dml.upsert_ms": "ms",
    "dml.rows_matched": "count",
    "dml.rewrite_amp": "ratio",
    "queries.build_ms": "ms",
    "operators.build_ms": "ms",
    "operators.build_jobs": "count",
    "exec.jobs_per_op": "count",
    "exec.stages_per_op": "count",
    "exec.tasks_per_op": "count",
    "exec.stage_ms": "ms",
    "exec.non_stage_ms": "ms",
    "exec.single_task_stage_ms": "ms",
    "exec.executor_run_ms": "ms",
    "exec.executor_cpu_ms": "ms",
    "exec.input_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.output_mb": "MB",
    "exec.gc_ms": "ms",
    "resources.scratch_mb_end": "MB",
    "resources.persisted_rdds_end": "count",
    "resources.peak_rss_mb": "MB",
    "trace.overhead_share": "ratio",
}

MB = 1 << 20


def tree_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass  # removed while walking (a finished task's temp file)
    return total


def end_to_end(setup_s, timed, wall, disk_bytes, user_bytes) -> dict:
    """``timed``: the untraced timed phase's ``Done`` list; ingest counts
    the rows its INSERTs and upserts committed over the seconds inside
    those calls."""
    ok = [d for d in timed if d.error is None]
    reads = [d.seconds * 1e3 for d in ok if d.op.kind in READ_KINDS]
    writes = [d.seconds * 1e3 for d in ok if d.op.is_write]
    ingests = [d for d in ok if d.op.kind in ("insert", "upsert")]
    return {
        "setup_s": setup_s,
        "ops_per_s": len(ok) / wall,
        "read_p50_ms": median(reads),
        "write_p50_ms": median(writes),
        "ingest_rows_per_s": (sum(d.value for d in ingests)
                              / sum(d.seconds for d in ingests)),
        "disk_bytes_per_user_byte": disk_bytes / user_bytes,
    }


def _ratio(num: float, den: float) -> float:
    """Share kept; a layer that examined nothing kept everything."""
    return num / den if den else 1.0


def per_layer(tracer, traced, setup_reps: int, exec_stats: dict[str, ExecStats],
              end_state: dict, overhead_share: float) -> dict:
    """Per-layer metrics from the spans and counters of the traced phase
    (``traced``: its ``Done`` list) and the event log's per-op totals."""
    spans = tracer.spans
    kinds = {d.op_id: d.op.kind for d in traced}
    n = len(traced)
    selfs = self_times(spans)

    def in_phase(i: int) -> bool:
        return spans[i].op in kinds

    def ms(*names: str, only=None) -> float:
        idx = [i for i in outermost(spans, set(names)) if in_phase(i)]
        if only is not None:
            idx = [i for i in idx if only(spans[i])]
        return sum(spans[i].end - spans[i].start for i in idx) * 1e3 / n

    def calls(name: str) -> float:
        return sum(1 for i, s in enumerate(spans) if s.name == name and in_phase(i)) / n

    c = tracer.counters
    setup_load = [spans[i] for i in outermost(spans, {"sources.load_table"})
                  if (spans[i].op or "").startswith("setup")]
    ex = [exec_stats.get(d.op_id, ExecStats()) for d in traced]
    stage_ms = [e.stage_ms for e in ex]
    # the tracer's own manifest snapshots around DML are not the program's
    snapshot_ms: dict[str, float] = {}
    for s in spans:
        if s.name == "trace.snapshot":
            snapshot_ms[s.op] = snapshot_ms.get(s.op, 0.0) + (s.end - s.start) * 1e3
    operator_ops = {s.op for s in spans if s.name == "operators.build"}
    out = {
        "session.start_ms": sum(s.end - s.start for s in spans
                                if s.name == "session.start") * 1e3,
        "sources.load_table_ms": sum(s.end - s.start for s in setup_load)
        * 1e3 / setup_reps,
        "mpp.sql_calls": calls("mpp.sql"),
        "mpp.sql_self_ms": sum(selfs[i] for i, s in enumerate(spans)
                               if s.name == "mpp.sql" and in_phase(i)) * 1e3 / n,
        "mpp.plan_ms": ms("mpp.sql", only=lambda s: kinds[s.op] in READ_KINDS),
        "collect.ms": ms("collect"),
        "catalog.ms": ms("catalog"),
        "pruning.derive_ms": ms("pruning.derive"),
        "pruning.eval_calls": calls("pruning.eval"),
        "pruning.eval_ms": ms("pruning.eval"),
        "pruning.buckets_kept_ratio": _ratio(c.buckets_kept, c.buckets_total),
        "zonemap.bounds_ms": ms("zonemap.bounds"),
        "zonemap.files_kept_ratio": _ratio(c.files_kept, c.files_total),
        "manifest.load_calls": calls("manifest.load"),
        "manifest.load_ms": ms("manifest.load"),
        "manifest.commit_calls": calls("manifest.commit"),
        "manifest.commit_ms": ms("manifest.commit"),
        "manifest.commit_conflicts": sum(
            1 for i, s in enumerate(spans) if s.name == "manifest.commit"
            and s.error == "CommitConflict" and in_phase(i)) / n,
        "manifest.footer_reads": calls("manifest.footer"),
        "manifest.footer_ms": ms("manifest.footer"),
        "table.scan_ms": ms("table.scan"),
        "colocated.scan_ms": ms("colocated.scan"),
        "table.insert_ms": ms("table.insert"),
        "table.insert_rows": c.insert_rows / n,
        "dml.update_ms": ms("dml.update"),
        "dml.delete_ms": ms("dml.delete"),
        "dml.upsert_ms": ms("dml.upsert"),
        "dml.rows_matched": c.rows_matched / n,
        "dml.rewrite_amp": c.rows_rewritten / c.rows_matched if c.rows_matched else 0.0,
        "queries.build_ms": ms("queries.build"),
        "operators.build_ms": ms("operators.build"),
        "operators.build_jobs": sum(e.build_jobs for d, e in zip(traced, ex)
                                    if d.op_id in operator_ops) / n,
        "exec.jobs_per_op": sum(e.jobs for e in ex) / n,
        "exec.stages_per_op": sum(e.stages for e in ex) / n,
        "exec.tasks_per_op": sum(e.tasks for e in ex) / n,
        "exec.stage_ms": sum(stage_ms) / n,
        "exec.non_stage_ms": sum(
            d.seconds * 1e3 - snapshot_ms.get(d.op_id, 0.0) - st
            for d, st in zip(traced, stage_ms)) / n,
        "exec.single_task_stage_ms": sum(e.single_task_stage_ms for e in ex) / n,
        "exec.executor_run_ms": sum(e.executor_run_ms for e in ex) / n,
        "exec.executor_cpu_ms": sum(e.executor_cpu_ms for e in ex) / n,
        "exec.input_mb": sum(e.input_bytes for e in ex) / MB / n,
        "exec.shuffle_read_mb": sum(e.shuffle_read_bytes for e in ex) / MB / n,
        "exec.shuffle_write_mb": sum(e.shuffle_write_bytes for e in ex) / MB / n,
        "exec.spill_mb": sum(e.spill_bytes for e in ex) / MB / n,
        "exec.output_mb": sum(e.output_bytes for e in ex) / MB / n,
        "exec.gc_ms": sum(e.gc_ms for e in ex) / n,
        "trace.overhead_share": overhead_share,
    }
    out.update(end_state)
    return out
