"""Latency statistics shared by the runner and the comparison tool.

The tail rule: a run's tail is the highest percentile that still has at
least ``TAIL_MIN_BEYOND`` samples above it. With n samples that is the
(TAIL_MIN_BEYOND + 1)-th largest one, at percentile 100 * (n - 10) / n.
Runs collect at least ``MIN_SAMPLES`` latencies so the tail is never below
the median.
"""

from __future__ import annotations

import math
import statistics

TAIL_MIN_BEYOND = 10
MIN_SAMPLES = 2 * TAIL_MIN_BEYOND + 1


def tail(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the tail, or None with too few samples."""
    n = len(values)
    if n <= TAIL_MIN_BEYOND:
        return None
    return 100.0 * (n - TAIL_MIN_BEYOND) / n, sorted(values)[n - TAIL_MIN_BEYOND - 1]


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else math.inf


def agrees(first_median: float, second_median: float, bound: float) -> bool:
    """Whether two sets' medians differ, either way, by at most ``bound``
    as a share of the first."""
    return abs(second_median - first_median) <= bound * first_median
