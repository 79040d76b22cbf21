"""Regression tests for the ADVICE-r11 findings fixed in round 12.

1. scripts/duck_bench.py — the DuckDB leg now runs the SAME two-sweep
   per-query-min protocol as bench.py's Spark leg (two time-separated
   sweeps x min-of-2 reps; value = min across sweeps), so the
   stall-recovery benefit is no longer granted to one engine only, and
   scripts/bench_pairs.py's protocol string describes the real
   methodology (source-contract checks: both are measurement scripts
   with no cheap importable seam for a timed run).
2. dedup band index — now a DistributedTable; see tests/test_band_index.py.
3. scripts/hostile_multimodal_graph.py — derives the repo root from
   __file__ like every other script in scripts/, no hardcoded checkout.
"""

import os

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
