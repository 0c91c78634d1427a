"""Arithmetic the benchmark reports with: medians, percentiles, self time.

Kept free of Spark so the self-tests run without a JVM.
"""

from __future__ import annotations

import math
from fractions import Fraction


def median(values: list[float]) -> float:
    """Median of a non-empty sample (mean of the middle pair when even)."""
    if not values:
        raise ValueError("median of an empty sample")
    s = sorted(values)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2.0


def _rank(p: float, n: int) -> int:
    """Nearest rank of percentile p in a sample of n, in exact arithmetic
    (99.9% of 10000 is 9990, not the float 9990.000000000002)."""
    return math.ceil(Fraction(str(p)) * n / 100)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of the
    sample at or below it. Returns a value that was actually measured."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0 < p <= 100:
        raise ValueError(f"percentile must be in (0, 100], got {p}")
    s = sorted(values)
    return s[max(1, _rank(p, len(s))) - 1]


def highest_supported_percentile(n: int, beyond: int = 10) -> float | None:
    """The highest of p50/p90/p99/p99.9 that leaves at least ``beyond``
    samples above it in a sample of ``n``; None when even p50 does not."""
    best = None
    for p in (50.0, 90.0, 99.0, 99.9):
        if n - _rank(p, n) >= beyond:
            best = p
    return best


def summarize(values: list[float]) -> dict:
    """Median plus the highest percentile the sample supports, with the
    sample count, so no timing is reported without its base."""
    out = {"n": len(values)}
    if not values:
        return out
    out["p50"] = median(values)
    p = highest_supported_percentile(len(values))
    if p is not None and p > 50.0:
        out[f"p{p:g}"] = percentile(values, p)
    return out


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        elif hi > cur_hi:
            cur_hi = hi
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(
    start: float, end: float, children: list[tuple[float, float]]
) -> float:
    """A span's duration minus the part of it its children cover.

    Children are clipped to the parent's interval and their union is
    taken, so children that overlap each other (work handed to threads)
    are not subtracted twice."""
    clipped = [(max(lo, start), min(hi, end)) for lo, hi in children]
    return (end - start) - union_length(clipped)
