"""Summary statistics shared by the runner and the steadiness check."""

from __future__ import annotations

import math
import statistics


def p50(values: list[float]) -> float:
    """Median of a non-empty sample."""
    if not values:
        raise ValueError("p50 of an empty sample")
    return statistics.median(values)


def geomean(values: list[float]) -> float:
    """Geometric mean of positive values: every sample weighs the same,
    so a handful of multi-second keys cannot drown the sub-second ones."""
    if not values:
        raise ValueError("geomean of an empty sample")
    if any(v <= 0 for v in values):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def quartile_spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median, with quartiles as ``statistics.quantiles(values, n=4)``
    gives them (the acceptance rule for the benchmark's bounds)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
