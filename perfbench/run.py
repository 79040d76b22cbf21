"""Repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload serving --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Prints a human-readable report, then as
its last stdout line one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). Exits non-zero when the program
cannot be imported or started, and after printing the result when any
output was wrong (``correct`` false).
Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 2
UNSTEADY_STEAL = 0.05  # share of the CPUs taken by the hypervisor


def _box_env(work: str) -> None:
    """Launcher environment: the package importable by Spark's Python
    workers too (the footer-stats pass of a large insert runs as a Python
    Spark job), Spark sized to this machine, and all scratch inside the
    checkout."""
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(paths)
    # Spark task threads on half the cores: the other half keeps the JVM's
    # own threads, the client and Spark's Python workers off them, so a
    # neighbour's load on the host moves the figures less
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, len(os.sched_getaffinity(0)) // 2))
    with open("/proc/meminfo") as f:
        total_gb = int(f.readline().split()[1]) / (1 << 20)
    os.environ["SPARK_DRIVER_MEM"] = f"{max(1, min(4, int(total_gb // 4)))}g"
    for name, var in (("local", "SPARK_LOCAL_DIRS"), ("tmp", "TMPDIR")):
        os.makedirs(os.path.join(work, name), exist_ok=True)
        os.environ[var] = os.path.join(work, name)
    tempfile.tempdir = None
    os.environ["TZ"] = "UTC"  # Spark and DuckDB timestamps compare as UTC
    time.tzset()


def _stat(pid: int) -> tuple[int, str] | None:
    """(parent pid, start time) of a running process; None once it has
    ended (or is a zombie)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] == "Z" else (int(fields[1]), fields[19])


def _descendants(pid: int) -> dict[int, str]:
    """Every running process below ``pid``: pid -> start time, so that a
    pid reused by an unrelated process is never taken for one of them."""
    children, start = {}, {}
    for entry in filter(str.isdigit, os.listdir("/proc")):
        stat = _stat(int(entry))
        if stat is not None:
            children.setdefault(stat[0], []).append(int(entry))
            start[int(entry)] = stat[1]
    found, todo = {}, [pid]
    while todo:
        for child in children.get(todo.pop(), ()):
            found[child] = start[child]
            todo.append(child)
    return found


def _alive(procs: dict[int, str]) -> list[int]:
    return [p for p, s in procs.items() if (_stat(p) or (0, None))[1] == s]


def _stop_processes(timeout: float = 30.0) -> None:
    """Stop Spark, its JVM and every process this one started (Spark's
    Python workers too), and wait until each has ended: politely first,
    then with SIGTERM, then SIGKILL."""
    procs = _descendants(os.getpid())
    context = sys.modules.get("pyspark.context")
    if context is not None:
        sc_class = context.SparkContext
        try:
            if sc_class._active_spark_context is not None:
                sc_class._active_spark_context.stop()
        except Exception:  # noqa: BLE001  (the JVM is killed below anyway)
            pass
        gateway = sc_class._gateway
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:  # noqa: BLE001
                pass
            proc = getattr(gateway, "proc", None)
            if proc is not None and proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits on EOF
                try:
                    proc.wait(timeout)
                except Exception:  # noqa: BLE001  (killed below)
                    pass
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid in _alive(procs):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + (timeout if sig is None else 10.0)
        while _alive(procs) and time.monotonic() < deadline:
            for pid in procs:  # reap the ones that are our children
                try:
                    os.waitpid(pid, os.WNOHANG)
                except ChildProcessError:
                    pass
            time.sleep(0.1)
        if not _alive(procs):
            return


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _timed_phase(runner, units, n_units: int, diag):
    """Run ``n_units`` whole units (blocks or passes) of the script;
    returns their ops, wall seconds, and the CPU share the hypervisor stole
    during each unit (the report flags a noisy unit; it is not dropped)."""
    from bench import _Diag

    done, seconds, steal = [], 0.0, []
    for _ in range(n_units):
        before, t0 = diag.snap(), time.perf_counter()
        done += [runner.run(op, "t") for op in next(units)]
        seconds += time.perf_counter() - t0
        steal.append(_Diag.delta(before, diag.snap()).get("steal_share") or 0.0)
    return done, seconds, steal


def _end_state(runner, workload, work: str) -> dict:
    from metrics import MB, tree_bytes

    tbl = runner.mpp.table(workload.table)
    live = set(tbl.snapshot_files())
    on_disk = {os.path.relpath(os.path.join(d, f), tbl.path)
               for d, _dirs, files in os.walk(tbl.path)
               for f in files if f.endswith(".parquet")}
    return {
        "manifest.versions_end": len(tbl.history()),
        "manifest.live_files_end": len(live),
        "manifest.dead_files_end": len(on_disk - live),
        "table.files_per_bucket_end": len(live) / workload.buckets,
        "resources.scratch_mb_end": sum(
            tree_bytes(os.path.join(work, d)) for d in ("local", "tmp")) / MB,
        "resources.persisted_rdds_end":
            runner.spark.sparkContext._jsc.getPersistentRDDs().size(),
    }


def _start_spark(args, work: str):
    import duckdb_mpp_spark.session as session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
    }
    if args.trace:
        os.makedirs(os.path.join(work, "events"))
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": os.path.join(work, "events"),
                     "spark.eventLog.compress": "false"})
    return session.get_spark(app_name=f"perfbench-{args.workload}",
                             extra_conf=conf)


def _set_up(workload, runner, work: str, tracer) -> list[tuple]:
    """``SETUP_REPS`` set-ups on fresh warehouses; per repetition
    (seconds, rows loaded into the workload's table). The last one stays."""
    setups = []
    for rep in range(SETUP_REPS):
        if tracer:
            tracer.op = f"setup{rep}"
        if rep:
            shutil.rmtree(os.path.join(work, f"wh{rep - 1}"))
        t0 = time.perf_counter()
        workload.create(runner, os.path.join(work, f"wh{rep}"))
        rows = workload.load(runner)
        setups.append((time.perf_counter() - t0, rows))
    if tracer:
        tracer.op = None
    return setups


def _check(executed, final_rows, workload, fixture_dir: str) -> list[str]:
    """Replay every op on the DuckDB mirror; returns the mismatches."""
    from duckdb_mpp_spark.queries import REGISTRY

    from mirror import Mirror, table_contents

    mirror = Mirror(fixture_dir, list(workload.mirror_views),
                    workload.mirror_tables)
    mismatches = []
    for d in executed:
        if d.error is not None:
            continue
        oracle = REGISTRY[d.op.name].oracle_sql() if d.op.kind == "gate" else None
        bad = mirror.check(d.op, d.value, oracle)
        if bad:
            mismatches.append(f"{d.op_id} {bad}")
    if mirror.table_contents(workload.table) != table_contents(*final_rows):
        mismatches.append(f"final contents of {workload.table} differ")
    return mismatches


def run(args, work: str, say) -> dict:
    from duckdb_mpp_spark.queries import _ensure_loaded

    from bench import _Diag
    from metrics import end_to_end, per_layer, tree_bytes
    from stats import median, summarize
    from tracing import Counters, Tracer, install_layer_spans, read_event_log
    from workloads import WORKLOADS, Runner

    _ensure_loaded()
    tracer = None
    if args.trace:  # spans from the start: session start and set-up count
        tracer = Tracer()
        install_layer_spans(tracer)
        tracer.op = "session"
    workload = WORKLOADS[args.workload](args.seed)
    fixture_dir = workload.fixture_dir
    t0 = time.perf_counter()
    spark = _start_spark(args, work)
    phases = {"session_start": time.perf_counter() - t0}
    runner = Runner(spark, fixture_dir, tracer)
    setups = _set_up(workload, runner, work, tracer)

    t0 = time.perf_counter()
    executed = [runner.run(op, "w", collect_gates=True) for op in workload.warm_ops()]
    phases["warm"] = time.perf_counter() - t0
    phases["process_to_first_timed_op"] = time.perf_counter() - PROCESS_T0
    setup_times = [s for s, _rows in setups]
    # process start to the first timed op, had the table set-up run once
    setup_s = (phases["process_to_first_timed_op"] - sum(setup_times)
               + median(setup_times))
    diag = _Diag(spark)
    before = diag.snap()
    units = workload.units()
    n_units = max(1, round(args.seconds / workload.unit_seconds))
    if tracer:
        tracer.uninstall()
        runner.tracer = None
    timed, wall, steal = _timed_phase(runner, units, n_units, diag)
    traced = []
    if tracer:  # the same code, traced, on the next units of the script
        install_layer_spans(tracer)
        tracer.counters = Counters()
        runner.tracer, runner.tag_jobs = tracer, True
        traced, traced_wall, traced_steal = _timed_phase(
            runner, units, n_units, diag)
        steal += traced_steal
        tracer.uninstall()
        runner.tracer, runner.tag_jobs = None, False
    attempted = timed + traced
    executed += attempted
    host = _Diag.delta(before, diag.snap())
    end_state = _end_state(runner, workload, work)
    disk_bytes = tree_bytes(runner.mpp.table(workload.table).path)
    user_rows = setups[-1][1] + sum(
        d.value for d in executed
        if d.op.kind in ("insert", "upsert") and d.error is None)

    t0 = time.perf_counter()
    compact, vacuum = [runner.run(op, "m") for op in workload.maintenance_ops()]
    executed += [compact, vacuum]
    end_state.update({"table.compact_ms": compact.seconds * 1e3,
                      "table.vacuum_ms": vacuum.seconds * 1e3,
                      "table.vacuum_files_removed": vacuum.value or 0})
    final = runner.mpp.sql(f"SELECT * FROM {workload.table}")
    final_rows = final.columns, [tuple(r) for r in final.collect()]
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    rss = {"jvm": _vm_hwm_mb(jvm_pid), "python": _vm_hwm_mb("self")}
    end_state["resources.peak_rss_mb"] = sum(rss.values())
    phases["maintenance_and_final_read"] = time.perf_counter() - t0
    spark.stop()
    t0 = time.perf_counter()
    mismatches = _check(executed, final_rows, workload, fixture_dir)
    phases["checks"] = time.perf_counter() - t0
    failed_any = [d for d in executed if d.error is not None]

    by_kind = {}  # gates one by one
    for d in timed:
        if d.error is None:
            by_kind.setdefault(d.op.name if d.op.kind == "gate" else d.op.kind,
                               []).append(d.seconds * 1e3)
    say(f"workload {args.workload} seed {args.seed}: {len(timed)} timed ops "
        f"in {wall:.2f} s on local[{os.environ['SPARK_GRAFT_CPUS']}], "
        f"JVM heap {os.environ['SPARK_DRIVER_MEM']}")
    say("latency_ms by op kind (n = samples): " + json.dumps(
        {k: {s: round(v, 2) for s, v in summarize(vals).items()}
         for k, vals in sorted(by_kind.items())}))
    say("warm-up latency_ms: " + json.dumps(
        {d.op.name or d.op.kind: round(d.seconds * 1e3) for d in executed
         if d.op_id.startswith("w")}))
    say(f"set-up s per repetition: {[round(s, 3) for s in setup_times]}; "
        "phase s: " + json.dumps({k: round(v, 2) for k, v in phases.items()})
        + f"; peak RSS MB: {json.dumps({k: round(v) for k, v in rss.items()})}")
    unsteady = max(steal) > UNSTEADY_STEAL or max(
        host.get("loadavg1") or [0]) > 2 * len(os.sched_getaffinity(0))
    say(f"host noise over the timed phase (unsteady={unsteady}): "
        + json.dumps(host) + f"; steal share per unit {[round(x, 4) for x in steal]}")
    for m in mismatches[:20]:
        say(f"MISMATCH {m}")
    for d in failed_any[:20]:
        say(f"FAILED {d.op_id} {d.op.kind}: {d.error}")

    if args.trace:
        overhead = (traced_wall / len(traced)) / (wall / len(timed)) - 1
        trace_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_path = os.path.join(trace_dir, f"{args.workload}-{args.seed}.json")
        tracer.dump(trace_path)
        say(f"traced phase: {len(traced)} ops in {traced_wall:.2f} s, "
            f"overhead {overhead:+.1%} per op against the untraced phase; "
            f"spans in {trace_path}")
        metrics = per_layer(tracer, traced, SETUP_REPS,
                            read_event_log(os.path.join(work, "events")),
                            end_state, overhead)
    else:
        metrics = end_to_end(setup_s, timed, wall, disk_bytes,
                             user_rows * workload.source_bytes_per_row)
    return {
        "correct": not mismatches and not failed_any,
        "attempted": len(attempted),
        "failed": sum(1 for d in attempted if d.error is not None),
        "metrics": metrics,
    }


def main(argv=None) -> int:
    from workloads import WORKLOADS  # noqa: F401  (fails fast outside a checkout)

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    import duckdb_mpp_spark  # noqa: F401  (no result without the program)

    # the result stream: Spark's JVM and Python workers inherit fd 1, so
    # point fd 1 at stderr and keep a private copy for the report
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(work)
    # a SIGTERM leaves through the finally below, which stops Spark
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        _box_env(work)

        def say(line: str) -> None:
            print(line, file=out, flush=True)

        result = run(args, work, say)
    finally:
        _stop_processes()
        shutil.rmtree(work, ignore_errors=True)
    from metrics import END_TO_END_UNITS, PER_LAYER_UNITS

    units = PER_LAYER_UNITS if args.trace else END_TO_END_UNITS
    result["metrics"] = {k: {"value": result["metrics"][k], "unit": u}
                         for k, u in units.items()}
    print(json.dumps(result), file=out, flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
