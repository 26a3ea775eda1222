"""Pure helpers shared by the harness and the event-log parser."""

from __future__ import annotations

import math
import statistics


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def tail_percentile(values, min_above: int = 10, min_n: int = 20):
    """The highest percentile with at least ``min_above`` samples above it.

    Nearest-rank rule: with ``n`` sorted samples the percentile ``p``
    picks the sample at rank ``ceil(p * n / 100)``; the largest integer
    ``p`` whose rank leaves ``min_above`` samples above it is
    ``floor(100 * (n - min_above) / n)``. Returns ``(p, value, n)``, or
    ``None`` when there are fewer than ``min_n`` samples.
    """
    xs = sorted(values)
    n = len(xs)
    if n < min_n:
        return None
    p = (100 * (n - min_above)) // n
    rank = max(1, math.ceil(p * n / 100))
    return p, xs[rank - 1], n


def union(intervals) -> list[tuple[float, float]]:
    """Merge ``(start, end)`` intervals into disjoint, sorted segments."""
    merged: list[list[float]] = []
    for start, end in sorted(intervals):
        if end < start:
            continue
        if merged and start <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], end)
        else:
            merged.append([start, end])
    return [(a, b) for a, b in merged]


def covered(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length of the union of ``intervals``, clipped to [lo, hi]."""
    total = 0.0
    for a, b in union(intervals):
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        total += max(0.0, b - a)
    return total


def gaps(intervals) -> float:
    """Idle time between the first start and the last end of ``intervals``."""
    segs = union(intervals)
    if not segs:
        return 0.0
    return (segs[-1][1] - segs[0][0]) - sum(b - a for a, b in segs)
