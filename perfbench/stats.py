"""Sample statistics for the benchmark: medians, the supported tail
percentile, and run-to-run spread."""

from __future__ import annotations

import statistics

# Candidate tail percentiles, highest first.  A percentile is reported
# only when at least MIN_BEYOND samples lie above it.
TAIL_PERCENTILES = (90, 75, 50)
MIN_BEYOND = 10


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def supported_percentile(n: int, wanted: int = 90) -> int | None:
    """Highest percentile <= ``wanted`` with at least MIN_BEYOND of
    ``n`` samples strictly above its rank, or None if even the median
    lacks that support."""
    for q in TAIL_PERCENTILES:
        if q <= wanted and n * (100 - q) / 100.0 >= MIN_BEYOND:
            return q
    return None


def tail(values: list[float], wanted: int = 90) -> tuple[float, str]:
    """(value, label) for the ``wanted`` tail percentile.  Falls back
    to the highest supported percentile; with fewer than 2*MIN_BEYOND
    samples none is supported, and the median is reported, labelled as
    such."""
    q = supported_percentile(len(values), wanted)
    if q is None:
        return median(values), f"p50 (n={len(values)}, no supported tail)"
    value = statistics.quantiles(values, n=100, method="inclusive")[q - 1]
    return value, f"p{q} (n={len(values)})"


def quartile_spread(values: list[float]) -> float:
    """Distance between the first and third quartiles as a share of
    the median (``statistics.quantiles(values, n=4)``)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")
