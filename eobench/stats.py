"""Pure arithmetic shared by the benchmark and its self-test: percentiles,
interval unions, self and idle time, failure rates.  No Spark, no I/O."""

from __future__ import annotations

import statistics
from collections.abc import Iterable, Sequence

# percentile ladder the tail rule climbs, in per mille so the count of
# samples beyond a rung is exact; the reported tail is the highest rung that
# still leaves at least TAIL_MIN_BEYOND samples above it
TAIL_LADDER_PER_MILLE = (500, 750, 900, 950, 990, 999)
TAIL_MIN_BEYOND = 10


def quantile(values: Sequence[float], p: float) -> float:
    """Linear-interpolated ``p``-th percentile (0..100) of ``values``."""
    if not values:
        raise ValueError("quantile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float | None:
    """Highest ladder percentile with at least ten of ``n`` samples beyond
    it, or None when even the median has fewer than ten beyond it."""
    best = None
    for pm in TAIL_LADDER_PER_MILLE:
        if n * (1000 - pm) >= TAIL_MIN_BEYOND * 1000:
            best = pm / 10
    return best


def median(values: Iterable[float]) -> float:
    vals = list(values)
    return statistics.median(vals) if vals else 0.0


def union_length(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start: float, end: float, children: Iterable[tuple[float, float]]) -> float:
    """Span wall time minus the part of it its child spans cover."""
    return (end - start) - union_length(children, start, end)


def idle_time(start: float, end: float, tasks: Iterable[tuple[float, float]]) -> float:
    """Span wall time during which no task of the span was running."""
    return (end - start) - union_length(tasks, start, end)


def error_rate(attempted: int, failed: int) -> float:
    if attempted <= 0:
        raise ValueError("no operations attempted")
    return failed / attempted

