"""Percentile rules for reported latencies.

A timing is reported as its median plus a tail percentile only where at
least ten samples lie beyond that percentile: the 90th needs 100
samples, the 99th 1000. Fewer samples raise instead of returning a
number that would swing with one outlier. The median is reported from
any non-empty sample.
"""

from __future__ import annotations

import statistics

MIN_BEYOND = 10


def percentile(values: list[float], pct: int) -> float:
    """The inclusive-method ``pct``-th percentile of ``values`` (linear
    interpolation between order statistics)."""
    if not values:
        raise ValueError("no samples")
    if pct == 50:
        return statistics.median(values)
    need = -(-MIN_BEYOND * 100 // (100 - pct))
    if len(values) < need:
        raise ValueError(
            f"p{pct} needs at least {need} samples, got {len(values)}")
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1]
