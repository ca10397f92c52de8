"""Order statistics for the run's timed samples."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs, beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """The highest percentile with at least ``beyond`` samples above it.

    Returns ``(value, percentile, sample count)``. The value is the sorted
    sample with exactly ``beyond`` samples after it, and its percentile is
    the share of samples at or below it. With ``beyond`` samples or fewer no
    such percentile exists; the maximum is returned with percentile 100.
    """
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    s = sorted(xs)
    if n <= beyond:
        return s[-1], 100.0, n
    i = n - 1 - beyond
    return s[i], 100.0 * (i + 1) / n, n
