"""Latency summaries: medians, quartiles and the tail-percentile rule."""

from __future__ import annotations

import math
import statistics

#: A tail percentile is reported only with at least this many samples
#: beyond it, so a single slow sample cannot set it.
MIN_BEYOND = 10

#: Candidate tail percentiles, highest first.
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float | None:
    """The highest candidate percentile with at least ``MIN_BEYOND`` of
    ``n`` samples strictly above its rank; None when even the median has
    fewer (n < 2 * MIN_BEYOND)."""
    for pct in TAIL_CANDIDATES:
        if n - math.ceil(n * pct / 100.0) >= MIN_BEYOND:
            return pct
    return None


def summarize(values: list[float]) -> dict:
    """Median, the rule's tail percentile and the sample count."""
    out = {"n": len(values), "p50": statistics.median(values) if values else None}
    pct = tail_percentile(len(values))
    if pct is not None:
        out["tail_pct"] = pct
        out["tail"] = percentile(values, pct)
    return out


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median, with the
    quartiles ``statistics.quantiles(values, n=4)`` gives."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")
