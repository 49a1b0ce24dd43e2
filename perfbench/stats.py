"""Metric arithmetic of the benchmark: pure functions, no Spark."""

from __future__ import annotations

import math
import statistics


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def geomean(values: list[float]) -> float:
    """Geometric mean; every value must be positive."""
    if not values:
        raise ValueError("geomean of no values")
    if any(v <= 0 for v in values):
        raise ValueError(f"geomean needs positive values, got {min(values)}")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def iqr_share(values: list[float]) -> float:
    """(Q3 - Q1) / median, with the quartiles of
    ``statistics.quantiles(values, n=4)``."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / median(values)


def failure_share(failed: int, attempted: int) -> float:
    """Failed operations as a share of those attempted."""
    if attempted < 1:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, {attempted}]")
    return failed / attempted


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] that the union of ``intervals`` covers."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def driver_gap(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Wall time in [lo, hi] during which no stage ran: the driver's own
    time (planning, py4j round trips, commit bookkeeping) plus
    scheduling waits between stages."""
    if hi < lo:
        raise ValueError("interval ends before it starts")
    return (hi - lo) - covered(intervals, lo, hi)
