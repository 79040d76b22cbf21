"""Regression tests for the ADVICE-r11 findings fixed in round 12.

1. scripts/duck_bench.py — the DuckDB leg now runs the SAME two-sweep
   per-query-min protocol as bench.py's Spark leg (two time-separated
   sweeps x min-of-2 reps; value = min across sweeps), so the
   stall-recovery benefit is no longer granted to one engine only, and
   scripts/bench_pairs.py's protocol string describes the real
   methodology (source-contract checks: both are measurement scripts
   with no cheap importable seam for a timed run).
2. dedup.py — the legacy (schema-less meta) append path no longer trusts
   mergeSchema alone: mergeSchema raises on TYPE conflicts but silently
   heals column-SET drift to a superset, so every generation file's
   footer column set is now validated EQUAL to the inferred set; drifted
   layouts are rejected loudly instead of recorded with a phantom column.
3. scripts/hostile_multimodal_graph.py — derives the repo root from
   __file__ like every other script in scripts/, no hardcoded checkout.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from duckdb_mpp_spark.operators.dedup import (
    _BAND_INDEX_META,
    write_band_index,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# --- 1. duck_bench two-sweep symmetry ----------------------------------------

def test_duck_bench_runs_two_sweeps_like_spark_leg():
    src = open(os.path.join(REPO, "scripts", "duck_bench.py")).read()
    assert "for _sweep in range(2)" in src, (
        "duck_bench.py no longer runs two time-separated sweeps — the "
        "pair protocol is asymmetric again (ADVICE r11 #1)"
    )
    assert "min(sw[n] for sw in sweeps)" in src
    assert "sweep_totals" in src


def test_bench_pairs_protocol_string_describes_two_sweeps():
    src = open(os.path.join(REPO, "scripts", "bench_pairs.py")).read()
    assert "warm min-of-2 both engines" not in src, (
        "protocol string still claims single-sweep min-of-2"
    )
    assert "2 time-separated sweeps" in src


# --- 2. legacy footer column-set validation -----------------------------------

def _mk_bands(spark, cols3=True):
    rows = [(i, i % 4, f"key{i % 8}") for i in range(32)]
    df = spark.createDataFrame(rows, "doc_id long, band int, band_key string")
    return df if cols3 else df.withColumn("extra_col", F.lit("x"))


def _strip_schema(path):
    meta = os.path.join(path, _BAND_INDEX_META)
    with open(meta) as f:
        doc = json.load(f)
    doc.pop("schema", None)
    with open(meta, "w") as f:
        json.dump(doc, f)


def test_legacy_append_rejects_column_set_drift(spark, tmp_path):
    """Two legacy generations whose column SETS differ: mergeSchema merges
    them silently to a superset — the append must now raise instead of
    recording the superset as the layout schema."""
    from duckdb_mpp_spark.operators.dedup import band_bucket_expr

    path = str(tmp_path / "idx")
    write_band_index(_mk_bands(spark), path, n_buckets=8)
    # second generation carries an extra column — written RAW (a foreign
    # producer that never went through write_band_index), so only the
    # parquet footers know about the drift
    (_mk_bands(spark, cols3=False)
     .withColumn("band_bucket", band_bucket_expr(8))
     .write.mode("append").partitionBy("band_bucket").parquet(path))
    # make the layout legacy: schema-less meta forces footer inference
    _strip_schema(path)
    with pytest.raises(ValueError, match="column-set drift|columns"):
        write_band_index(_mk_bands(spark), path, n_buckets=8, mode="append")
    # the failed append must not have recorded the superset schema
    with open(os.path.join(path, _BAND_INDEX_META)) as f:
        doc = json.load(f)
    assert "schema" not in doc or doc["schema"] is None


def test_legacy_append_uniform_footers_still_heals(spark, tmp_path):
    """Control: a legacy layout whose generations agree heals exactly as
    before (ADVICE r10 #2 behavior preserved)."""
    path = str(tmp_path / "idx")
    write_band_index(_mk_bands(spark), path, n_buckets=8)
    write_band_index(_mk_bands(spark), path, n_buckets=8, mode="append")
    _strip_schema(path)
    write_band_index(_mk_bands(spark), path, n_buckets=8, mode="append")
    with open(os.path.join(path, _BAND_INDEX_META)) as f:
        assert json.load(f).get("schema"), "uniform legacy layout not healed"


# --- 3. hostile sweep derives repo from __file__ --------------------------------

def test_no_script_hardcodes_the_repo_checkout():
    # the ADVICE item named hostile_multimodal_graph.py, but the class
    # covered hostile_streaming.py and hostile_sweep.py too (review r12)
    # — pin it for EVERY script so the next sweep can't reintroduce it
    sdir = os.path.join(REPO, "scripts")
    offenders = [
        name for name in sorted(os.listdir(sdir))
        if name.endswith(".py")
        and 'sys.path.insert(0, "/root/repo")' in open(
            os.path.join(sdir, name)).read()
    ]
    assert not offenders, f"scripts hardcode the checkout: {offenders}"
    src = open(os.path.join(sdir, "hostile_multimodal_graph.py")).read()
    assert "os.path.dirname(os.path.dirname(os.path.abspath(__file__)))" in src
