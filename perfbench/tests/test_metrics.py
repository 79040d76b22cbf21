"""Every metric the benchmark prints is declared in BENCHMARK.json, with
the same unit, and the other way round."""

import json
import os

import pytest

from metrics import END_TO_END_UNITS, PER_LAYER_UNITS, end_to_end, per_layer
from script import Op
from tracing import ExecStats, Span, Tracer
from workloads import WORKLOADS, Done

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def test_declared_metrics_match_the_printed_ones():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == PER_LAYER_UNITS
    assert [w["name"] for w in SPEC["workloads"]] == sorted(WORKLOADS)
    assert SPEC["command"] == ["python3", "perfbench/run.py"]


def _done(kind, seconds, op_id, value=1, name=""):
    return Done(Op(kind, "SELECT 1", name=name), op_id, seconds, value=value)


def test_end_to_end_computes_every_metric():
    timed = [_done("point", 0.2, "t1"), _done("insert", 0.5, "t2", 10),
             _done("update", 0.7, "t3"), _done("upsert", 1.5, "t4", 30)]
    out = end_to_end(12.5, timed, 2.0, 300, 100)
    assert set(out) == set(END_TO_END_UNITS)
    assert out["setup_s"] == 12.5 and out["ops_per_s"] == 2
    assert out["read_p50_ms"] == 200 and out["write_p50_ms"] == 700
    # rows the INSERTs and upserts committed over the seconds inside them
    assert out["ingest_rows_per_s"] == 20 and out["disk_bytes_per_user_byte"] == 3


def test_per_layer_computes_every_metric():
    tracer = Tracer()
    tracer.spans = [Span("session.start", 0, 2, op="session"),
                    Span("sources.load_table", 2, 3, op="setup0"),
                    Span("mpp.sql", 4, 5, op="t1"),
                    Span("manifest.load", 4.2, 4.4, parent=2, op="t1"),
                    Span("operators.build", 6, 6.5, op="t2"),
                    Span("queries.build", 8, 8.25, op="t3"),
                    Span("trace.snapshot", 9, 9.1, op="t4"),
                    Span("dml.delete", 9.1, 9.6, op="t4"),
                    Span("trace.snapshot", 9.6, 9.7, op="t4")]
    traced = [_done("point", 1.5, "t1"), _done("gate", 2.0, "t2"),
              _done("gate", 0.5, "t3"), _done("delete", 0.7, "t4")]
    stats = {"t1": ExecStats(jobs=3, stage_ms=500.0),
             "t2": ExecStats(jobs=4, build_jobs=2),
             "t3": ExecStats(jobs=2, build_jobs=1)}
    end = {k: 0 for k in PER_LAYER_UNITS if k.endswith("_end")}
    end.update({"table.compact_ms": 1, "table.vacuum_ms": 1,
                "table.vacuum_files_removed": 0, "resources.peak_rss_mb": 900})
    out = per_layer(tracer, traced, 1, stats, end, 0.05)
    assert set(out) == set(PER_LAYER_UNITS)
    assert out["session.start_ms"] == 2000 and out["sources.load_table_ms"] == 1000
    assert out["mpp.sql_calls"] == 0.25 and out["mpp.plan_ms"] == 250
    assert out["mpp.sql_self_ms"] == pytest.approx(200)
    assert out["operators.build_ms"] == 125 and out["queries.build_ms"] == 62.5
    assert out["operators.build_jobs"] == 0.5  # the TPC-H gate's job is not an operator's
    assert out["dml.delete_ms"] == pytest.approx(125)
    assert out["exec.jobs_per_op"] == 2.25
    # op wall minus stage time, minus the tracer's own snapshot reads
    assert out["exec.non_stage_ms"] == pytest.approx(
        (1500 - 500 + 2000 + 500 + 700 - 200) / 4)
