"""Frequent-items (heavy hitters) with bounded-memory mergeable
summaries: JVM Misra–Gries candidate generation + exact verify.

The one-pass exact ``groupBy(col).count()`` is fine when the key space
fits a shuffle; at 10^12 turns with an unbounded token space the
aggregate state itself is the problem.  This operator is the
candidate-then-verify pattern the dedup/ANN stack uses everywhere:

1. **Candidates** — ``DataFrame.freqItems([col], 1/m)`` with
   ``m = den // num + 1``.  Spark plans it as one
   ``collect_frequent_items(col, size)`` aggregate: a partial
   ``ObjectHashAggregate`` per partition, then one final merge, all in
   the JVM.  Its ``add`` is weighted Misra–Gries: when the map of
   ``size`` counters is full, it subtracts min(incoming count, the
   map's minimum) from all ``size + 1`` counters, and the merge replays
   the same ``add``.  So in any merge order an item's count is low by
   at most N/(size+1), and every item with count ≥ θ·N survives when
   ``size ≥ den // num`` — ``m`` asks for one counter more, which
   covers the float truncation in Spark's ``(1/support).toInt``.
   The summary holds at most ``size`` counters per partition,
   independent of cardinality.  Spark requires support ≥ 1e-4, so
   θ must be above ~1/10,000.
2. **Verify** — exact recount of the candidate set only (broadcast
   left join, map-side combinable count), filtered by the exact
   integer test ``cnt · den ≥ num · N``.  Rows matching no candidate
   collapse into one NULL group of the same count, so N is the sum over
   all groups: two scans of the input in all, not a third for N.  The
   output is therefore EXACT and partitioning-independent: phase 1 only
   decides which keys get recounted, and it provably never drops a true
   heavy hitter.

Reference analog: none — request_log_analyzer has exactly one global
group (src/analyzer/mod.rs); frequent-items over unbounded key spaces
is part of the training-data-pipeline surface this engine adds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _candidates(keyed: DataFrame, col: str, num: int, den: int) -> DataFrame:
    """Phase 1 of ``heavy_hitters``: Spark's frequent items of
    ``keyed[col]`` at support 1/m, m = den // num + 1, one row per
    item."""
    m = den // num + 1
    if m > 10_000:  # freqItems rejects a support below 1e-4
        raise ValueError("threshold num/den needs den // num < 10000")
    return (
        keyed.freqItems([col], 1.0 / m)
        .toDF("_items")
        .select(F.explode("_items").alias(col))
    )


def heavy_hitters(
    df: DataFrame, col: str, num: int, den: int
) -> DataFrame:
    """Items of ``df[col]`` whose exact frequency is ≥ (num/den)·N,
    with their exact counts — computed without ever building the full
    frequency table.  θ = num/den as an exact rational; the final
    filter is integer arithmetic, so no float boundary can flip a row.

    Returns (col, cnt, share) — share is the one double column,
    derived by a single IEEE division from two exact longs.
    """
    if not (0 < num < den):
        raise ValueError("threshold num/den must be in (0, 1)")
    keyed = df.select(F.col(col).cast("string").alias(col)).where(
        F.col(col).isNotNull()
    )
    cands = _candidates(keyed, col, num, den).toDF("_hit")
    # One pass counts every candidate and N: a row that matches no
    # candidate lands in the single NULL group, and N is the sum of all
    # groups, so the events are not scanned a third time for N.
    counts = (
        keyed.join(F.broadcast(cands), F.col(col) == F.col("_hit"), "left")
        .groupBy("_hit")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .selectExpr("_hit", "cnt", "sum(cnt) OVER () AS _n")
    )
    return (
        counts.where(
            F.col("_hit").isNotNull()
            & (F.col("cnt") * F.lit(den) >= F.lit(num) * F.col("_n"))
        )
        .select(
            F.col("_hit").alias(col),
            "cnt",
            (F.col("cnt").cast("double") / F.col("_n").cast("double")).alias(
                "share"
            ),
        )
    )
