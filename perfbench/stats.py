"""Summary statistics shared by the workloads and the tests."""

from __future__ import annotations

import math
import statistics

TAIL_BEYOND = 10  # samples that must lie beyond a reported tail percentile


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail_percentile(values: list[float]) -> tuple[int, float] | None:
    """The highest whole percentile with at least ``TAIL_BEYOND``
    samples beyond it, by the nearest-rank rule, as (percentile,
    value); None when there are too few samples for any.

    Nearest rank: percentile p reads the sample of rank
    max(1, ceil(p/100 * n)) in ascending order; the samples beyond it
    are the n - rank above it."""
    n = len(values)
    if n - 1 < TAIL_BEYOND:
        return None
    ordered = sorted(values)
    best = 0
    for p in range(100):
        if n - max(1, math.ceil(p * n / 100)) >= TAIL_BEYOND:
            best = p
    return best, ordered[max(1, math.ceil(best * n / 100)) - 1]
