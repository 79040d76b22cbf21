import json
import sys
import types

import pytest

from tracing import Span, Tracer, outermost, read_event_log, self_times


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span("root", 0.0, 10.0),
        Span("a", 1.0, 3.0, parent=0),
        Span("b", 2.0, 5.0, parent=0),      # overlaps a: union is 1..5
        Span("c", 9.0, 12.0, parent=0),     # clipped to the parent's end
        Span("a.x", 1.5, 2.5, parent=1),    # grandchild: only a loses it
    ]
    assert self_times(spans) == pytest.approx([10 - 4 - 1, 2 - 1, 3, 3, 1])


def test_outermost_counts_nested_calls_once():
    spans = [Span("load", 0, 4), Span("other", 1, 3, parent=0),
             Span("load", 1.5, 2, parent=1), Span("load", 5, 6)]
    assert outermost(spans, {"load"}) == [0, 3]


def test_wrap_records_parent_op_and_error():
    t = Tracer()
    inner = t.wrap("inner", lambda: 1)

    def boom():
        inner()
        raise KeyError("x")

    t.op = "t1"
    with pytest.raises(KeyError):
        t.wrap("outer", boom)()
    outer, child = t.spans
    assert (outer.name, outer.error, outer.parent) == ("outer", "KeyError", None)
    assert (child.name, child.parent, child.op) == ("inner", 0, "t1")


def test_patch_function_reaches_every_importing_module():
    def f():
        return 42

    home = types.ModuleType("duckdb_mpp_spark_fake_home")
    user = types.ModuleType("duckdb_mpp_spark_fake_user")
    home.f = user.g = f
    sys.modules.update({home.__name__: home, user.__name__: user})
    try:
        t = Tracer()
        t.patch_function("f", home, "f")
        assert home.f() == user.g() == 42
        assert [s.name for s in t.spans] == ["f", "f"]
        t.uninstall()
        assert home.f is f and user.g is f
    finally:
        del sys.modules[home.__name__], sys.modules[user.__name__]


def test_patch_function_keeps_the_around_wrapper_outside_the_span():
    def f():
        return 1

    mod = types.ModuleType("duckdb_mpp_spark_fake_dml")
    mod.f = f
    sys.modules[mod.__name__] = mod
    t = Tracer()

    def around(fn):
        def run():
            with t.span("trace.snapshot"):
                pass
            return fn()
        return run

    try:
        t.patch_function("dml.f", mod, "f", around=around)
        assert mod.f() == 1
        snap, call = t.spans
        assert (snap.name, call.name, call.parent) == ("trace.snapshot", "dml.f", None)
        assert snap.end <= call.start
    finally:
        t.uninstall()
        del sys.modules[mod.__name__]


def test_event_log_totals_per_op(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "t5:build"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "t5"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Number of Tasks": 1,
            "Submission Time": 100, "Completion Time": 130}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 1, "Number of Tasks": 4,
            "Submission Time": 200, "Completion Time": 260}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 50, "Executor CPU Time": 40_000_000,
            "JVM GC Time": 3, "Memory Bytes Spilled": 5,
            "Disk Bytes Spilled": 6, "Input Metrics": {"Bytes Read": 7},
            "Output Metrics": {"Bytes Written": 8},
            "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 9}}},
    ]
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events))
    st = read_event_log(str(tmp_path))["t5"]
    assert (st.jobs, st.build_jobs, st.stages, st.tasks) == (2, 1, 2, 1)
    assert st.stage_ms == 90 and st.single_task_stage_ms == 30
    assert (st.executor_run_ms, st.executor_cpu_ms, st.gc_ms) == (50, 40, 3)
    assert (st.input_bytes, st.output_bytes, st.spill_bytes) == (7, 8, 11)
    assert (st.shuffle_read_bytes, st.shuffle_write_bytes) == (3, 9)
