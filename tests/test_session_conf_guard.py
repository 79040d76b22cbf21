"""Config-leak guard for the memoized tune_session (VERDICT r13 #4).

Since r13, ``tune_session`` memoizes per (session, SPARK_GRAFT_CONF) —
``run_spark_query`` no longer re-applies the tuned confs before every
query, so an operator that mutates session conf without restoring it
would leak the mutation into every later query in the session. These
tests pin the two defenses:

  1. ``conf_guard`` restores prior values (including on exception), and
     a restore that fails raises instead of leaking silently;
  2. the one conf-mutating gate today (mpp_colocated_contract, which
     disables auto-broadcast for its plan assert) leaves every tuned key
     and the broadcast threshold exactly as it found them.
"""

import os

import pytest

from duckdb_mpp_spark.queries import run_spark_query
from duckdb_mpp_spark.session import conf_guard

SF_DIR = os.environ.get("MPP_TEST_SF_DIR", "/root/testdata/sf0.001")

TUNED_KEYS = [
    "spark.sql.session.timeZone",
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.adaptive.skewJoin.enabled",
    "spark.sql.shuffle.partitions",
    "spark.sql.autoBroadcastJoinThreshold",
]


def _snapshot(spark):
    return {k: spark.conf.get(k) for k in TUNED_KEYS}


def test_conf_guard_restores_on_exit(spark):
    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    with conf_guard(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == "-1"
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == before


def test_conf_guard_restores_on_exception(spark):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(RuntimeError):
        with conf_guard(spark, {"spark.sql.shuffle.partitions": "17"}):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "17"
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_conf_mutating_gate_leaves_tuned_confs_intact(spark):
    # run once so tune_session has applied + memoized its settings
    run_spark_query("q06_forecast_revenue", spark, SF_DIR).collect()
    before = _snapshot(spark)
    # the conf-mutating gate: disables auto-broadcast inside conf_guard
    run_spark_query("mpp_colocated_contract", spark, SF_DIR).collect()
    assert _snapshot(spark) == before


class _FlakyConf:
    """Session-conf stand-in whose restore of ``fail_key`` raises."""

    def __init__(self, values, fail_key):
        self.values = dict(values)
        self.fail_key = fail_key
        self.restoring = False

    def get(self, k):
        return self.values[k]

    def set(self, k, v):
        if self.restoring and k == self.fail_key:
            raise RuntimeError(f"cannot restore {k}")
        self.values[k] = v

    def unset(self, k):
        self.values.pop(k, None)


def test_conf_guard_failed_restore_is_loud_and_restores_the_rest():
    class Session:
        conf = _FlakyConf({"a": "1", "b": "2", "c": "3"}, fail_key="b")

    s = Session()
    with pytest.raises(RuntimeError, match="cannot restore b"):
        with conf_guard(s, {"a": "x", "b": "y", "c": "z"}):
            s.conf.restoring = True
    # every other key was still restored before the failure surfaced
    assert s.conf.values == {"a": "1", "b": "y", "c": "3"}
