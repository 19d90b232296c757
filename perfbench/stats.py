"""Order statistics and interval arithmetic used by the benchmark.

Pure Python so the rules can be unit-tested without Spark.
"""

from __future__ import annotations

import statistics
from collections.abc import Iterable, Sequence

TAIL_BEYOND = 10


def quartiles(xs: Sequence[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(xs, n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs: Sequence[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2


def tail(xs: Sequence[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """The highest percentile with at least ``beyond`` samples above it.

    Returns ``(value, percentile, n)``: ``value`` is the sample with exactly
    ``beyond`` samples after it in sorted order, and ``percentile`` is the
    share of samples at or below it, in percent. With ``beyond`` samples or
    fewer no percentile qualifies, and the result is the maximum, reported
    as percentile 100 so the reader sees that it is one sample."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no samples")
    if n <= beyond:
        return s[-1], 100.0, n
    return s[n - 1 - beyond], 100.0 * (n - beyond) / n, n


def union(intervals: Iterable[tuple[float, float]]) -> list[tuple[float, float]]:
    """Merge intervals into disjoint, sorted intervals."""
    out: list[list[float]] = []
    for lo, hi in sorted(intervals):
        if hi < lo:
            raise ValueError(f"interval ends before it starts: {(lo, hi)}")
        if out and lo <= out[-1][1]:
            out[-1][1] = max(out[-1][1], hi)
        else:
            out.append([lo, hi])
    return [(lo, hi) for lo, hi in out]


def covered(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    return sum(
        max(0.0, min(b, hi) - max(a, lo)) for a, b in union(intervals)
    )


def self_time(span: tuple[float, float], children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its child spans cover."""
    lo, hi = span
    return (hi - lo) - covered(children, lo, hi)
