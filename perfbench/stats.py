"""Spark-free statistics for the benchmark runner.

Every helper takes plain Python numbers, so the rules that turn samples
into reported metrics can be tested without a Spark session.
"""

from __future__ import annotations

import math
from collections.abc import Iterable, Sequence

MIN_BEYOND_TAIL = 10  # samples a tail percentile must leave above it


def median(xs: Sequence[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    s = sorted(xs)
    m = len(s) // 2
    return float(s[m]) if len(s) % 2 else (s[m - 1] + s[m]) / 2.0


def geomean(xs: Sequence[float]) -> float:
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile p with at least MIN_BEYOND_TAIL of n samples
    above it: n * (100 - p) / 100 >= MIN_BEYOND_TAIL. None when n is too
    small for any percentile above the median to qualify."""
    for p in range(99, 50, -1):
        if n * (100 - p) >= MIN_BEYOND_TAIL * 100:
            return p
    return None


def tail(xs: Sequence[float]) -> dict:
    """{"p": percentile, "value": ..., "n": sample count}; value is None when
    there are too few samples for a tail (nearest-rank percentile)."""
    p = tail_percentile(len(xs))
    if p is None:
        return {"p": None, "value": None, "n": len(xs)}
    s = sorted(xs)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return {"p": p, "value": float(s[rank - 1]), "n": len(xs)}


def failed_op_share(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError("failed must lie in [0, attempted]")
    return failed / attempted


def union_length(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, end = 0.0, lo
    for a, b in clipped:
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_time(start: float, end: float, children: Iterable[tuple[float, float]]) -> float:
    """A span's own time: its duration minus the part its children cover."""
    return (end - start) - union_length(children, start, end)


def trend_ratio(xs: Sequence[float], frac: float = 1 / 3) -> float:
    """Median of the last `frac` of a series over the median of its first
    `frac` — above 1 means the series drifts upward over the run."""
    k = max(1, int(len(xs) * frac))
    if len(xs) < 2 * k:
        raise ValueError("series too short for a trend")
    return median(xs[-k:]) / median(xs[:k])
