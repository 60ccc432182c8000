"""Percentile math for the benchmark's latency metrics."""

from __future__ import annotations

import math


def percentile(values, q: float) -> float:
    """The ``q``-th percentile (0 < q <= 100) by linear interpolation
    between closest ranks, the same rule as ``numpy.percentile``'s
    default and ``statistics.quantiles(method="inclusive")``."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < q <= 100:
        raise ValueError(f"percentile rank must be in (0, 100], got {q}")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50)


def gmean(values) -> float:
    """Geometric mean of positive values."""
    if not values:
        raise ValueError("geometric mean of no samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))
