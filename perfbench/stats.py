"""Summary statistics shared by every workload.

Pure functions over plain lists: no Spark, no I/O, so the unit tests in
``perfbench/tests`` pin them without a session.
"""

from __future__ import annotations

import math
import statistics

# A tail percentile is reported only when at least this many samples lie
# strictly beyond it; below that it is one or two outliers, not a tail.
MIN_BEYOND = 10
TAIL_CANDIDATES = (99.9, 99.0, 90.0)


def _rank(q: float, n: int) -> int:
    """1-based nearest rank of percentile q among n samples (rounded
    first, so 99.9% of 10000 is rank 9990, not 9991)."""
    return max(1, math.ceil(round(q / 100.0 * n, 9)))


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest value with at least q% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    return sorted(values)[_rank(q, len(values)) - 1]


def supported_tail(n: int) -> float | None:
    """Highest percentile of TAIL_CANDIDATES with at least MIN_BEYOND of
    ``n`` samples beyond it, or None when the sample is too small."""
    for q in TAIL_CANDIDATES:
        if n - _rank(q, n) >= MIN_BEYOND:
            return q
    return None


def summarize(values: list[float]) -> dict:
    """Median plus the tail percentile the sample supports, with the
    sample count stated."""
    out = {"n": len(values), "p50": statistics.median(values)}
    q = supported_tail(len(values))
    if q is not None:
        out[f"p{q:g}"] = percentile(values, q)
    return out


def geomean(values: list[float]) -> float:
    if not values or any(v <= 0 for v in values):
        raise ValueError("geometric mean needs positive samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def failed_frac(failed: int, attempted: int) -> float:
    """Failed ops or failed checks over ops attempted; a run that
    attempted nothing counts as entirely failed."""
    if attempted <= 0:
        return 1.0
    return failed / attempted


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end)
    intervals — time with at least one of them running."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def clip(
    intervals: list[tuple[float, float]], lo: float, hi: float
) -> list[tuple[float, float]]:
    """Intervals cut to [lo, hi); those wholly outside are dropped."""
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


def quartile_spread(values: list[float]) -> float:
    """(Q3 − Q1) / median, with quartiles from statistics.quantiles."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
