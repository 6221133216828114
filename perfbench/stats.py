"""Pure arithmetic for the benchmark: the tail choice and span self
time. No Spark, so the tests run in milliseconds."""

from __future__ import annotations

import math

#: a tail percentile needs at least this many samples beyond it
TAIL_BEYOND = 10


def tail_percentile(n: int) -> int:
    """The highest whole percentile with at least ``TAIL_BEYOND`` of
    ``n`` samples beyond it: ``floor(100 * (1 - 10 / n))``. Needs
    ``n >= 20``, so the answer is never below the median."""
    if n < 2 * TAIL_BEYOND:
        raise ValueError(f"{n} samples: a tail needs at least {2 * TAIL_BEYOND}")
    p = math.floor(100 * (n - TAIL_BEYOND) / n)
    # guard float rounding: the count beyond p must really be >= 10
    while n * (100 - p) < TAIL_BEYOND * 100:
        p -= 1
    return p


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its child spans cover
    (overlapping children count once; parts outside the span not at all)."""
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted((max(a, start), min(b, end)) for a, b in children):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (end - start) - covered


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    if not intervals:
        return 0.0
    lo = min(a for a, _ in intervals)
    hi = max(b for _, b in intervals)
    return (hi - lo) - self_time(lo, hi, intervals)
