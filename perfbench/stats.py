"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics

# A tail percentile is reported only when at least this many samples lie
# beyond it; with fewer, it is the maximum of a handful of samples.
MIN_SAMPLES_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``
    percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank ``p`` percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail_supported(n: int, p: float) -> bool:
    """Whether ``n`` samples support reporting the ``p`` percentile."""
    return samples_beyond(n, p) >= MIN_SAMPLES_BEYOND


def median(values: list[float]) -> float:
    return statistics.median(values)
