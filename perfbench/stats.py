"""Order statistics the benchmark reports, and the spread rule it is judged by."""

from __future__ import annotations

import math
import statistics


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """Highest whole percentile with at least ``beyond`` of ``n`` samples
    above it, or None when ``n`` is too small for any tail figure
    (fewer than ``2 * beyond`` samples)."""
    if n < 2 * beyond:
        return None
    return math.floor(100 * (n - beyond) / n)


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with the quartiles ``statistics.quantiles(n=4)``
    gives: the run-to-run spread a metric is held to."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
