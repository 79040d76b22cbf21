"""Traced mode: spans around the package's public layer functions, and
Spark's own per-job metrics from its event log.

Spans are recorded from the benchmark's files only: ``install_layer_spans``
swaps each layer function for a wrapper, in every module namespace that
holds it (some call sites import a function into their own module), and in
the class that defines each wrapped method. A span records name, start,
end, parent span and the op it belongs to; spans stay in memory and are
written out when the run ends.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str | None = None
    error: str | None = None


@dataclass
class Counters:
    """Counts observed at layer boundaries, for ratios of useful outcomes
    to attempts."""

    buckets_kept: int = 0
    buckets_total: int = 0
    files_kept: int = 0
    files_total: int = 0
    insert_rows: int = 0
    rows_matched: int = 0
    rows_rewritten: int = 0


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.counters = Counters()
        self.op: str | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _open(self, name: str) -> int:
        stack = self._stack()
        with self._lock:
            self.spans.append(Span(name, time.perf_counter(),
                                   parent=stack[-1] if stack else None,
                                   op=self.op))
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def _close(self, idx: int, error: BaseException | None) -> None:
        self.spans[idx].end = time.perf_counter()
        if error is not None:
            self.spans[idx].error = type(error).__name__
        self._stack().pop()

    @contextmanager
    def span(self, name: str):
        idx = self._open(name)
        err = None
        try:
            yield
        except BaseException as e:
            err = e
            raise
        finally:
            self._close(idx, err)

    def wrap(self, name: str, fn, after=None):
        """``fn`` recorded as span ``name``; ``after(args, kwargs, result)``
        runs on success to collect counts."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = self._open(name)
            err = None
            try:
                result = fn(*args, **kwargs)
            except BaseException as e:
                err = e
                raise
            finally:
                self._close(idx, err)
            if after is not None:
                after(args, kwargs, result)
            return result

        return traced

    def patch_function(self, name: str, module, attr: str, after=None,
                       around=None) -> None:
        """Replace ``module.attr`` in every loaded package module that
        holds the same object. ``around(fn)`` may wrap the traced function
        (its own work then stays outside the span)."""
        orig = getattr(module, attr)
        traced = self.wrap(name, orig, after)
        if around is not None:
            traced = around(traced)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith("duckdb_mpp_spark"):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    self._undo.append((mod, key, orig))
                    setattr(mod, key, traced)

    def patch_method(self, name: str, cls, attr: str, after=None) -> None:
        orig = cls.__dict__[attr]
        self._undo.append((cls, attr, orig))
        setattr(cls, attr, self.wrap(name, orig, after))

    def uninstall(self) -> None:
        for owner, key, orig in reversed(self._undo):
            setattr(owner, key, orig)
        self._undo.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([vars(s) for s in self.spans], f)


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping ``(lo, hi)`` intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its child spans cover
    (children of one span may overlap when they ran on pool threads)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        (s.end - s.start) - union_length(
            (max(lo, s.start), min(hi, s.end))
            for lo, hi in children.get(i, []) if min(hi, s.end) > max(lo, s.start))
        for i, s in enumerate(spans)
    ]


def outermost(spans: list[Span], names: set[str]) -> list[int]:
    """Indices of spans named in ``names`` with no ancestor also named in
    ``names`` — summing their durations counts nested calls once."""
    keep = []
    for i, s in enumerate(spans):
        if s.name not in names:
            continue
        p = s.parent
        while p is not None and spans[p].name not in names:
            p = spans[p].parent
        if p is None:
            keep.append(i)
    return keep


def install_layer_spans(tracer: Tracer) -> None:
    """Wrap each layer's public functions (the package must be imported
    and its query registry loaded first, so every importing module is
    already in ``sys.modules``)."""
    from duckdb_mpp_spark import catalog, colocated, dml, manifest, mpp
    from duckdb_mpp_spark import pruning, session, table, zonemap
    from duckdb_mpp_spark.sources import tables as sources_tables

    load_full = manifest.load_full

    def kept_buckets(args, kwargs, result):
        c = tracer.counters
        c.buckets_kept += len(result)
        c.buckets_total += args[2] if len(args) > 2 else kwargs["buckets"]

    def kept_files(args, kwargs, result):
        if hasattr(result, "collect"):  # a SELECT: the skip stats are fresh
            c = tracer.counters
            for kept, total in args[0].last_file_skip.values():
                c.files_kept += kept
                c.files_total += total

    def inserted(args, kwargs, result):
        tracer.counters.insert_rows += int(result)

    def rewrite_counting(fn):
        """Matched rows, and rows in the files the statement replaced
        (manifest before vs after, read with the unwrapped loader, in a
        ``trace.snapshot`` span: tracing overhead, not the program's work)."""

        def snap(tbl):
            with tracer.span("trace.snapshot"):
                return load_full(tbl.path, table.BUCKET_COL,
                                 tbl.meta.sort_column)[1]

        @functools.wraps(fn)
        def run(tbl, *args, **kwargs):
            before = snap(tbl)
            n = fn(tbl, *args, **kwargs)
            after = snap(tbl)
            c = tracer.counters
            c.rows_matched += int(n)
            c.rows_rewritten += sum(e["rows"] for rel, e in before.items()
                                    if rel not in after)
            return n

        return run

    tracer.patch_function("session.start", session, "get_spark")
    tracer.patch_function("sources.load_table", sources_tables, "load_table")
    tracer.patch_method("mpp.sql", mpp.MppSession, "sql", kept_files)
    for attr in ("create_table", "get", "exists", "drop_table"):
        tracer.patch_method("catalog", catalog.MppCatalog, attr)
    tracer.patch_function("pruning.derive", pruning, "bucket_predicate_for_where")
    tracer.patch_function("pruning.eval", pruning, "evaluate_bucket_ids",
                          kept_buckets)
    tracer.patch_function("zonemap.bounds", zonemap, "all_bounds")
    tracer.patch_function("manifest.load", manifest, "load_full")
    tracer.patch_function("manifest.load", manifest, "load_version_full")
    tracer.patch_function("manifest.commit", manifest, "commit")
    tracer.patch_function("manifest.footer", manifest, "file_entry")
    tracer.patch_method("table.scan", table.DistributedTable, "scan")
    tracer.patch_method("colocated.scan", colocated.ColocatedTable, "scan")
    tracer.patch_method("table.insert", table.DistributedTable, "insert", inserted)
    tracer.patch_method("table.compact", table.DistributedTable, "compact")
    tracer.patch_method("table.vacuum", table.DistributedTable, "vacuum")
    for verb in ("update", "delete", "upsert"):
        tracer.patch_function(f"dml.{verb}", dml, verb, around=rewrite_counting)


# ---------------------------------------------------------------------------
# Spark event log


@dataclass
class ExecStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    stage_ms: float = 0.0
    single_task_stage_ms: float = 0.0
    executor_run_ms: float = 0.0
    executor_cpu_ms: float = 0.0
    gc_ms: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    build_jobs: int = 0


def read_event_log(log_dir: str) -> dict[str, ExecStats]:
    """Per-op execution totals from Spark's JSON event log. Jobs are tied
    to ops through their job group, ``<op>`` or ``<op>:build``; the build
    group marks jobs run while a gate's DataFrame was being constructed."""
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    stage_span: dict[int, tuple[int, int, int]] = {}
    tasks: dict[str, ExecStats] = {}
    paths = [p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(p)]
    events = []
    for path in sorted(paths):
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                job_group[ev["Job ID"]] = group
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if "Submission Time" in info and "Completion Time" in info:
                stage_span[info["Stage ID"]] = (
                    info["Submission Time"], info["Completion Time"],
                    info["Number of Tasks"])
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            m = ev.get("Task Metrics")
            if group is None or not m:
                continue
            st = tasks.setdefault(group.split(":")[0], ExecStats())
            st.tasks += 1
            st.executor_run_ms += m.get("Executor Run Time", 0)
            st.executor_cpu_ms += m.get("Executor CPU Time", 0) / 1e6
            st.gc_ms += m.get("JVM GC Time", 0)
            st.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            st.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read_bytes += (sr.get("Remote Bytes Read", 0)
                                      + sr.get("Local Bytes Read", 0))
            sw = m.get("Shuffle Write Metrics") or {}
            st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            st.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                               + m.get("Disk Bytes Spilled", 0))
    intervals: dict[str, list[tuple[int, int]]] = {}
    for sid, group in stage_group.items():
        if sid not in stage_span:
            continue  # skipped stage: its shuffle output was reused
        lo, hi, ntasks = stage_span[sid]
        op = group.split(":")[0]
        st = tasks.setdefault(op, ExecStats())
        st.stages += 1
        intervals.setdefault(op, []).append((lo, hi))
        if ntasks == 1:
            st.single_task_stage_ms += hi - lo
    for op, ivs in intervals.items():
        tasks[op].stage_ms = union_length(ivs)
    for group in job_group.values():
        st = tasks.setdefault(group.split(":")[0], ExecStats())
        st.jobs += 1
        if group.endswith(":build"):
            st.build_jobs += 1
    return tasks
