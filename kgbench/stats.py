"""Summary statistics with the benchmark's percentile rule.

A tail percentile is reported only when at least ``MIN_BEYOND`` samples
lie beyond it; otherwise it is None and the caller prints the sample
count instead of a number the sample cannot support.
"""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def nearest_rank(xs: list[float], q: float) -> float:
    """The q-th percentile (0 < q <= 100) by the nearest-rank method."""
    s = sorted(xs)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


def tail_percentile(xs: list[float], q: float, min_beyond: int = MIN_BEYOND) -> float | None:
    """Nearest-rank percentile, or None when fewer than ``min_beyond``
    samples rank above it."""
    beyond = len(xs) - math.ceil(q / 100 * len(xs))
    return nearest_rank(xs, q) if beyond >= min_beyond else None

