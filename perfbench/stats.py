"""Summary statistics for latency samples."""

from __future__ import annotations

import math


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q``-quantile (0 <= q <= 1) of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    pos = (len(s) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 0.5)


# candidate tail percentiles, highest first
TAIL_CANDIDATES = (0.999, 0.99, 0.95, 0.9, 0.75, 0.5)


def tail_percentile(n: int, beyond: int = 10) -> float | None:
    """Highest candidate percentile with at least ``beyond`` of ``n``
    samples above it, or None when not even the median has that many."""
    for q in TAIL_CANDIDATES:
        if n - math.ceil(n * q) >= beyond:
            return q
    return None


def tail_label(q: float) -> str:
    """``0.9`` -> ``p90``, ``0.999`` -> ``p99.9``."""
    return "p" + f"{q * 100:.1f}".rstrip("0").rstrip(".")


def summarize(values: list[float]) -> dict:
    """Median plus the supported tail, with the sample count."""
    out: dict = {"n": len(values)}
    if not values:
        return out
    out["p50"] = median(values)
    q = tail_percentile(len(values))
    if q is not None and q > 0.5:
        out[tail_label(q)] = percentile(values, q)
    return out
