"""Pure helpers: order statistics and interval arithmetic for spans."""

from __future__ import annotations

import statistics


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs, beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile that still has at least `beyond` samples
    above it → (value, percentile, sample count).

    With n sorted samples that is the (n - beyond)-th smallest value:
    exactly `beyond` samples lie beyond it. With n <= beyond no
    percentile qualifies and the maximum is returned at percentile 100,
    so a short run reports its worst sample rather than nothing."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= beyond:
        return float(s[-1]), 100.0, n
    i = n - beyond - 1
    return float(s[i]), 100.0 * (i + 1) / n, n


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clipped(intervals, lo: float, hi: float):
    """Intervals cut to the window [lo, hi]; empty ones dropped."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_time(span: tuple[float, float], children) -> float:
    """A span's duration minus the part of it its children cover."""
    lo, hi = span
    return (hi - lo) - union_length(clipped(children, lo, hi))
