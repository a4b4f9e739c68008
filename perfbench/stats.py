"""Order statistics shared by the run and the comparison report."""

from __future__ import annotations

import statistics

# A tail percentile is reported only where this many samples lie beyond it.
MIN_BEYOND = 10


def median(values: "list[float]") -> float:
    return float(statistics.median(values)) if values else float("nan")


def quartiles(values: "list[float]") -> "tuple[float, float, float]":
    """(q1, median, q3) as ``statistics.quantiles(n=4)`` gives them."""
    if len(values) < 2:
        v = values[0] if values else float("nan")
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def tail(values: "list[float]", min_beyond: int = MIN_BEYOND) -> "tuple[float, float, int]":
    """(value, percentile, beyond) for the highest percentile that still has
    ``min_beyond`` samples above it.

    With n sorted samples the k-th smallest has n - k samples beyond it, so
    the highest admissible rank is k = n - min_beyond and its percentile is
    100 k / n. With n <= min_beyond no percentile qualifies; the maximum is
    returned as the 100th percentile with 0 samples beyond, so the caller
    can print that the rule was not met.
    """
    if not values:
        return float("nan"), 0.0, 0
    xs = sorted(values)
    n = len(xs)
    k = n - min_beyond
    if k < 1:
        return xs[-1], 100.0, 0
    return xs[k - 1], 100.0 * k / n, n - k
