"""Regression tests for the ADVICE-r10 findings fixed in round 11.

1.-2. dedup band index — now a DistributedTable; see tests/test_band_index.py.
3. scripts/bench_sf1.py — ``time_duck_incremental_probe`` on an sf_dir
   whose Spark gate never ran raises a RuntimeError naming the ordering
   contract, not a bare KeyError on a process-global dict.
4. scripts/floor_ab.py — the warm-up loop runs each gate under BOTH AQE
   settings before the timed interleaved rounds, so the aqe_off arm's
   first timed execution no longer pays whole-stage-codegen compilation
   for its differently-shaped plans (source-contract check: the script
   is measurement infrastructure with no importable seam).
"""

import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# --- 3. incremental probe names the ordering contract ------------------------

def test_incremental_probe_unregistered_sfdir_raises_named_error():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench_sf1", os.path.join(REPO, "scripts", "bench_sf1.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    with pytest.raises(RuntimeError, match="dedup_incremental gate"):
        mod.time_duck_incremental_probe("/no/such/sf_dir")


# --- 4. floor_ab warms both AQE arms ------------------------------------------

def test_floor_ab_warm_loop_covers_both_aqe_arms():
    src = open(os.path.join(REPO, "scripts", "floor_ab.py")).read()
    warm_section = src.split("best = {")[0]
    assert '("true", "false")' in warm_section or (
        '"true"' in warm_section and '"false"' in warm_section
    ), "warm-up no longer covers both spark.sql.adaptive.enabled arms"
