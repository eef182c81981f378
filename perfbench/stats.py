"""Arithmetic the benchmark reports with: percentiles, the tail rule,
open-loop latency and interval unions. Pure Python, no program imports."""

from __future__ import annotations

import math

def percentile(values, p: float) -> float:
    """Linear-interpolation percentile (numpy's default method) of a
    non-empty sequence; p in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    if not 0.0 <= p <= 100.0:
        raise ValueError(f"percentile {p} outside [0, 100]")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, p: float) -> int:
    """How many of n samples lie strictly above the p-th percentile
    position (the count the tail rule asks to be at least 10)."""
    return n - 1 - math.floor((n - 1) * p / 100.0)


def open_loop_latency(due: float, end: float) -> float:
    """An open-loop request is timed from when it was due, not from when
    the client got round to sending it, so a stall charges every request
    scheduled behind it."""
    return end - due


def interval_union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by (start, end) intervals, optionally clipped
    to [lo, hi]; overlapping intervals count once."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def median(values) -> float:
    return percentile(values, 50.0)


def mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0
