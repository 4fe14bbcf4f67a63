"""Order statistics the benchmark reports (Spark-free)."""

from __future__ import annotations

import math
import statistics
from typing import Sequence

TAIL_BEYOND = 10  # samples that must lie beyond a reported tail percentile


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def percentile(values: Sequence[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least pct% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(ordered)))
    return float(ordered[rank - 1])


def tail_percentile(n: int, beyond: int = TAIL_BEYOND) -> float:
    """The highest whole percentile from 50 up with at least `beyond` of
    `n` samples above it; 100 (the maximum) when there are too few samples
    for any, so a tail never reads below the median."""
    for pct in range(99, 49, -1):
        rank = max(1, math.ceil(pct / 100.0 * n))
        if n - rank >= beyond:
            return float(pct)
    return 100.0


def tail(values: Sequence[float]) -> tuple[float, float]:
    """(tail percentile used, its value)."""
    pct = tail_percentile(len(values))
    return pct, percentile(values, pct)


def failed_ratio(attempted: int, failed: int) -> float:
    """Operations that raised or failed their check, per operation
    attempted."""
    if attempted < 1:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, {attempted}]")
    return failed / attempted
