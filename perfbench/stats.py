"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics


def median(values) -> float:
    values = list(values)
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def geomean(values) -> float:
    values = list(values)
    if not values or min(values) <= 0:
        raise ValueError(f"geomean needs positive samples, got {values}")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def spread(values) -> float:
    """Quartile distance over the median, the statistics.quantiles(n=4)
    way; 0.0 for fewer than two samples."""
    values = list(values)
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / median(values)
