"""Summary statistics shared by every workload."""

from __future__ import annotations

import math
import re

# percentiles considered for a tail figure, highest first
_TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10
METRIC_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ys = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ys)))
    return ys[rank - 1]


def median(values: list[float]) -> float:
    ys = sorted(values)
    n = len(ys)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return ys[mid] if n % 2 else (ys[mid - 1] + ys[mid]) / 2.0


def tail_percentile(values: list[float]) -> tuple[float, float]:
    """(p, value) for the highest listed percentile that leaves at least
    ``MIN_BEYOND`` samples above its rank; the median when none does."""
    n = len(values)
    for p in _TAIL_PERCENTILES:
        if n - max(1, math.ceil(p / 100.0 * n)) >= MIN_BEYOND:
            return p, percentile(values, p)
    return 50.0, median(values)


def geomean(values: list[float]) -> float:
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def union_intervals(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """Merge overlapping [start, end) intervals."""
    out: list[list[float]] = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def covered(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of the intervals."""
    return sum(e - s for s, e in union_intervals(intervals))


def clip(intervals: list[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def overlap(a: list[tuple[float, float]], b: list[tuple[float, float]]) -> float:
    """Length of (union of a) intersected with (union of b)."""
    total = 0.0
    for s, e in union_intervals(a):
        total += covered(clip(b, s, e))
    return total


def summary(values: list[float]) -> dict:
    """Median, tail percentile and sample count, for the detail line."""
    p, tail = tail_percentile(values)
    return {"n": len(values), "median": median(values), f"p{p:g}": tail}


def closed_loop_latency(kind_medians_ms: list[float]) -> dict[str, float]:
    """Latency figures of a closed-loop workload whose ops are a fixed
    list of different kinds (queries, commands), one of each per pass.
    Pooled over kinds, the median falls on whichever kind sits in the
    middle of a pass and the tail has too few samples, so both are taken
    over the kinds' own medians: the middle kind and the slowest. With
    no kind measured (every op failed) all three read 0."""
    ys = sorted(kind_medians_ms)
    if not ys:
        return {"op.geomean_ms": 0.0, "op.p50_ms": 0.0, "op.tail_ms": 0.0}
    return {"op.geomean_ms": geomean(ys), "op.p50_ms": median(ys), "op.tail_ms": ys[-1]}
