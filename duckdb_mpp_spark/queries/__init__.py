"""Query registry — the verified query surface of the engine.

Every entry is one operator/capability from SURVEY §2 (or a north-star
pipeline operator), expressed Spark-first, with an equivalent DuckDB oracle
SQL for differential correctness (the reference's own capability *is*
DuckDB, so DuckDB-as-oracle is exactly "matches the reference's results").

Determinism conventions (cross-engine float safety):
- Aggregated doubles go through exact DECIMAL sums:
  ``CAST(SUM(CAST(expr AS DECIMAL(18,6))) AS DOUBLE)`` — decimal addition is
  associative, so Spark's parallel partial aggregation and DuckDB's
  sequential sum produce bit-identical results; the final double conversion
  is exact for values < 2^53.
- Averages are written as exact-sum / count.
- LIMIT queries carry a unique tiebreak column in ORDER BY.
- Timestamps compare against full literals; the Spark session runs UTC.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from duckdb_mpp_spark.session import tune_session
from duckdb_mpp_spark.sources import register_views


@dataclass
class Query:
    """One verified query.

    ``spark``: shared-dialect SQL text (run via ``spark.sql`` → Catalyst) or
    a callable ``(spark, sf_dir) -> DataFrame`` for DataFrame-API operators.
    ``oracle``: DuckDB SQL; defaults to ``spark`` when that is shared text.
    ``None`` → non-SQL-expressible; driver falls back to rows-only check.
    """

    spark: str | Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None

    def oracle_sql(self) -> str | None:
        if self.oracle is not None:
            return self.oracle
        return self.spark if isinstance(self.spark, str) else None


REGISTRY: dict[str, Query] = {}


def ordered_small(df: DataFrame, *cols: str, exchange: bool = False) -> DataFrame:
    """Total order for a SMALL result frame without the range-sampling pass.

    ``orderBy`` plans a range-partitioned sort, which first runs a separate
    sampling job over the input to pick partition bounds — the right plan
    when the result itself is large, but a pure scheduling tax (~0.1–0.3 s
    per query at bench scale) when the frame being ordered is a final
    aggregate/top-k/thresholded result that is orders of magnitude smaller
    than the corpus it came from. For those, a single-partition sort is the
    plan a human would pick at any scale: the rows must land on the driver
    (or one writer) anyway. Use ONLY for result-shaped frames (summaries,
    pair lists post-threshold, paginated slices) — corpus-sized outputs
    keep ``orderBy``.

    CAVEAT (review r6): ``coalesce(1)`` propagates back to the nearest
    shuffle boundary, so the whole final stage — including the post-shuffle
    merge of the aggregation that PRODUCED the small frame — runs as one
    task. That final merge is itself result-sized here (its input is the
    partial-aggregated stream), so the collapse is the documented trade,
    not an accident — but it is why this helper must never wrap a frame
    whose last stage does corpus-sized work (e.g. a high-cardinality
    aggregate or a wide join): that would serialize the heavy stage, a far
    worse outcome than orderBy's sampling pass.

    NULLS LAST (ADVICE r8): Spark's default asc is NULLS FIRST while every
    DuckDB oracle ORDER BY defaults NULLS LAST — the r6 convention pins
    asc_nulls_last at every shared-order sort site, and this helper's
    callers (cohort, ffill, global-shuffle, jaccard pair lists) inherit it
    here so a NULL sort key (e.g. a NULL cohort_week from all-NULL ts)
    cannot diverge the row order between dialects.

    ``exchange=True`` (r10): ``repartition(1)`` instead of ``coalesce(1)``
    — a REAL shuffle barrier, so the collapse described in the CAVEAT
    above cannot reach upstream stages. This is the required form when
    the frame's last stage does corpus-sized work that coalesce would
    serialize — the motivating case is a window whose downstream groupBy
    REUSES the window's hash partitioning (exchange reuse, a feature the
    plan-shape tests pin), leaving no shuffle boundary between the corpus
    window and the result: events_sessionization's 30× wall was 3.2 s
    with coalesce (the whole 3M-row window sort ran as ONE task) vs
    1.2 s with the barrier (window parallel, one task sorts only the
    45k-row result). Costs one tiny result-rows exchange; still no
    range-sampling job.
    """
    from pyspark.sql import functions as F

    one = df.repartition(1) if exchange else df.coalesce(1)
    return one.sortWithinPartitions(
        *[F.col(c).asc_nulls_last() for c in cols]
    )


def ordered_result(
    df: DataFrame, source: DataFrame, *cols: str, exchange: bool = False
) -> DataFrame:
    """Total order for a result frame whose size tracks ``source``:
    ordered_small (one job, no range sampling) in the ``sort_shape``
    regime's single-task arm, parallel orderBy past it. Use for gate
    results that are O(#rows of source) — thresholded/aggregated results
    that are ALWAYS small should call ordered_small directly.
    ``exchange=True``: see ordered_small — required when the frame's last
    stage does corpus-sized work with no shuffle boundary before the
    result (window + partitioning-reusing aggregate)."""
    from pyspark.sql import functions as F

    from duckdb_mpp_spark.table import regime

    if regime("sort_shape", source) == "single_task":
        return ordered_small(df, *cols, exchange=exchange)
    return df.orderBy(*[F.col(c).asc_nulls_last() for c in cols])


def register(name: str, query: Query) -> None:
    assert name not in REGISTRY, f"duplicate query {name}"
    REGISTRY[name] = query


_LOADED = False


def _ensure_loaded() -> None:
    """Populate the registry on first use rather than at import time, so
    operator modules can be imported directly (in any order) without
    re-entering their own partially-initialized modules through the
    registration chain."""
    global _LOADED
    if _LOADED:
        return
    _LOADED = True
    from duckdb_mpp_spark.queries import core  # noqa: F401
    from duckdb_mpp_spark.queries import windows_sets  # noqa: F401
    from duckdb_mpp_spark.queries import events  # noqa: F401
    from duckdb_mpp_spark.queries import mpp_layer  # noqa: F401
    from duckdb_mpp_spark.queries import pipeline  # noqa: F401
    from duckdb_mpp_spark.queries import streaming_queries  # noqa: F401
    from duckdb_mpp_spark.queries import surface_extra  # noqa: F401


# Driver-verification bookkeeping.  The driver checks the first ~50 entries
# of queries() per round, so ordering IS the verification schedule. Tiers
# are DERIVED from the CORRECTNESS_r*.json files the driver leaves in the
# repo root (self-maintaining — no per-round frozenset edits):
#   tier 0 — never driver-GREEN (new queries, or every recorded row red)
#   tier k — green in round k, not since (stalest re-verify first; the
#            freshest rounds sort last)
# A query counts as green in round N when its CORRECTNESS_rN row has
# hash_match (or, failing that, rows_match with no error — the rows-only
# fallback for oracle-less entries).

import json as _json
import os as _os

_REPO_ROOT = _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))))


def _freshest_green_round() -> dict[str, int]:
    """query name -> latest round with a green driver row (from the
    CORRECTNESS_r{N}.json files on disk)."""
    import glob as _glob

    out: dict[str, int] = {}
    for path in sorted(_glob.glob(_os.path.join(_REPO_ROOT, "CORRECTNESS_r*.json"))):
        m = _os.path.basename(path)
        try:
            rnd = int(m[len("CORRECTNESS_r"):-len(".json")])
            with open(path) as f:
                doc = _json.load(f)
        except (ValueError, OSError, _json.JSONDecodeError):
            continue
        for name, row in doc.items():
            if not isinstance(row, dict):
                continue
            # Green = the hash matched, or a genuinely rows-only check
            # passed (hash axis ABSENT/null — the weaker no-oracle mode).
            # A row with hash_match=False is a content MISMATCH even when
            # rows_match is true, and must stay in tier 0 (re-verify
            # first), not sort into the freshest tier (review r4).
            green = bool(row.get("hash_match")) or (
                row.get("hash_match") is None
                and bool(row.get("rows_match"))
                and not row.get("err")
            )
            if green:
                out[name] = max(out.get(name, 0), rnd)
    return out


def _registry_names_prioritized() -> list[str]:
    """Registry names in driver-check priority order (see tier comment
    above): never-green first, then stalest-verified ascending by
    the round of their latest green row."""
    fresh = _freshest_green_round()

    def prio(n: str) -> tuple[int, int]:
        # Secondary key: within the never-green tier, streaming gates sort
        # LAST — each one spends seconds of driver budget on checkpoint
        # setup / trigger loops, and must not starve cheap batch gates of
        # their first green row (ADVICE r4).
        streaming = 1 if n.startswith("streaming_") else 0
        return (fresh.get(n, 0), streaming)  # round 0 = never green → first

    return sorted(REGISTRY, key=prio)  # stable: registry order within tiers


def run_spark_query(name: str, spark: SparkSession, sf_dir: str) -> DataFrame:
    _ensure_loaded()
    q = REGISTRY[name]
    tune_session(spark)
    register_views(spark, sf_dir)
    if isinstance(q.spark, str):
        return spark.sql(q.spark)
    return q.spark(spark, sf_dir)


def spark_callables() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _ensure_loaded()

    def make(name):
        return lambda spark, sf_dir: run_spark_query(name, spark, sf_dir)

    return {name: make(name) for name in _registry_names_prioritized()}


def oracle_sqls() -> dict[str, str]:
    _ensure_loaded()
    out = {}
    for name in _registry_names_prioritized():
        sql = REGISTRY[name].oracle_sql()
        if sql is not None:
            out[name] = sql
    return out


