"""Nearest-rank percentiles, exact and distributed.

The reference pins nearest-rank semantics: for values [1,10,100],
median=10, p90=100, p99=100 — i.e. the ceil(q·n)-th order statistic
(/root/reference/src/analyzer/mod.rs:90-115).  Its sketch is exact up to
10,000 samples and approximated above (/root/reference/Cargo.toml:20-21).
We mirror that contract:

- ``approx_nearest_rank`` — Spark's GK sketch (``percentile_approx``)
  with ``DEFAULT_ACCURACY`` = 10,000: rank error ≤ n/10,000, i.e.
  *exact* nearest-rank for groups of up to ~10k values, approximate
  above.  All-JVM, partial+final merge, whole-stage codegen.
- ``exact_nearest_rank_global`` — two-pass distributed-sort exact path
  for arbitrarily large single groups (rank via row_number + count);
  used by the dedicated exact-percentile query and parity tests.
- ``hist_rollup`` — the mergeable histogram state for the tier cascade.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Mirrors the reference's exactness ceiling (exact ≤10,000 samples,
# approximate above, /root/reference/Cargo.toml:20-21).  GK sketch size
# is O(1/eps); pushing accuracy into the millions makes each partial
# sketch buffer ~n values — measured to *invert* core-count scaling at
# 10M rows — so the sketch tier keeps eps=1e-4 and exactness beyond 10k
# comes from the counts-based path below instead.
DEFAULT_ACCURACY = 10_000


def qname(q: float) -> str:
    return f"q{str(q).replace('.', '_')}"


def approx_nearest_rank(col: str | Column, q: float) -> Column:
    """GK-sketch nearest-rank percentile, cast to long ms.

    Exact for groups ≤ DEFAULT_ACCURACY values (rank error < 1),
    approximate above — the reference's contract, all-JVM,
    partial+final mergeable.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.percentile_approx(c, F.lit(q), F.lit(DEFAULT_ACCURACY)).cast("long")


def exact_nearest_rank(
    df: DataFrame,
    value_col: str,
    qs: list[float],
    keys: list[str] | None = None,
) -> DataFrame:
    """Exact ceil(q·n)-th order statistic per group at any group size —
    counting-sort selection, fully distributed:

    1. groupBy(keys, value) → per-value counts (map-side combinable; the
       shuffled relation is |distinct values| rows, not |rows|).
    2. cumulative count over values within each key.
    3. per q: min value whose cumulative count reaches ceil(q·n).

    Latency values are integer milliseconds, so the distinct domain is
    bounded (≪ row count) — the cumsum window over distinct values stays
    cheap even where a row-level sort would be a 100 TB shuffle.

    BOUND (explicit): the per-group window task is O(group's distinct
    values).  With keys=[] that is ONE task over the global distinct
    domain — fine for ms-valued latencies (≤ ~10⁷ distinct covers deltas
    up to ~3 hours; a single 10⁷-row sort task is ~1 s), NOT fine for
    unbounded float measures.  For those, use hist_rollup (log-quantizes
    overflow buckets into a bounded histogram) or approx_nearest_rank;
    this function is the exact/audit tier by contract.
    """
    keys = keys or []
    c = F.col(value_col)
    counts = (
        df.where(c.isNotNull())
        .groupBy(*keys, c.alias("_v"))
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    if keys:
        w_cum = (
            Window.partitionBy(*keys)
            .orderBy("_v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cum = counts.withColumn("_cum", F.sum("_c").over(w_cum)).withColumn(
            "_n", F.sum("_c").over(Window.partitionBy(*keys))
        )
    elif _estimated_bytes(df) < _SERIAL_CUMSUM_CUTOFF:
        # small input: one sort task over the distinct domain is cheaper
        # than the distributed prefix sum's extra stages (measured
        # interleaved at sf0.1: 0.79 s serial vs 1.01 s bucketed)
        w_cum = Window.orderBy("_v").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        cum = counts.withColumn("_cum", F.sum("_c").over(w_cum)).withColumn(
            "_n", F.sum("_c").over(Window.partitionBy(F.lit(1)))
        )
    else:
        cum = _distributed_cumsum(counts)
    aggs = [
        F.min(
            F.when(
                F.col("_cum")
                >= F.greatest(F.lit(1), F.ceil(F.lit(q) * F.col("_n"))),
                F.col("_v"),
            )
        ).alias(qname(q))
        for q in qs
    ]
    return cum.groupBy(*keys).agg(*aggs)


# Below this Catalyst size estimate for the INPUT relation, the keyless
# exact path keeps the single-task cumsum window: the distinct domain
# is then at most a few hundred thousand values and one sort task beats
# the distributed prefix sum's extra exchange + broadcast join
# (measured crossover between sf0.1 ≈ 2.8 MB est / 100k rows — serial
# 0.79 s vs 1.01 s — and sf1.0 ≈ 21 MB est / 1M rows — serial 1.91 s vs
# bucketed 1.62 s).  Estimate-driven, no job at plan build; at 100 TB
# the estimate is astronomically past the cutoff and the distributed
# path always runs.
_SERIAL_CUMSUM_CUTOFF = 8 << 20


def _estimated_bytes(df: DataFrame) -> int:
    """Catalyst's optimized-plan size estimate — driver-side arithmetic
    over file sizes and operator factors; runs NO job."""
    try:
        return int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    except Exception:
        return 1 << 62  # unknown: assume big, take the distributed path


# Range-bucket width for the keyless distributed prefix sum: values are
# integer ms, so bucket ``floor(_v / B)`` holds at most B distinct
# values — the per-bucket window task is O(B) regardless of the global
# distinct-domain size.  65536 balances both domain shapes: a DENSE
# domain caps each bucket's sort at 65k rows (a trivial task), while a
# SPARSE domain (real latency deltas span ~1e9 ms with ~1 value per 4k
# span) keeps the bucket-offset relation small — 4096 measured a
# nearly value-per-bucket relation at sf0.1 whose broadcast cost more
# than the serial window it replaced (0.63 s → 0.93 s); 65536 shrinks
# it 16×.
_CUMSUM_BUCKET = 65536


def _distributed_cumsum(counts: DataFrame) -> DataFrame:
    """(_v, _c) → (_v, _c, _cum, _n) with a DISTRIBUTED prefix sum
    (round-6, guide §2.5): the old keyless path ran ONE window task over
    the global distinct-value domain (~1 task sorting up to |distinct|
    rows — measured ~1.4 s of the percentile_exact query at sf1.0).

    Three bounded steps replace it:
      1. bucket values by ``floor(_v / B)`` — ≤ B distinct values each;
      2. per-bucket totals → running offset via one window over the
         BUCKET relation (rows = #buckets ≪ #distinct; ms-valued
         domains of days span ~21k buckets);
      3. broadcast the offsets back and cumsum WITHIN each bucket —
         parallel window tasks of ≤ B rows.

    ``_cum``/``_n`` are bit-identical to the single-window form (sums
    of the same longs in the same order), so results cannot change.
    """
    b = counts.withColumn(
        "_bkt", F.floor(F.col("_v") / F.lit(float(_CUMSUM_BUCKET)))
    )
    btot = b.groupBy("_bkt").agg(F.sum("_c").alias("_bc"))
    w_prev = (
        Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.partitionBy(F.lit(1))
    boff = btot.select(
        "_bkt",
        F.coalesce(F.sum("_bc").over(w_prev), F.lit(0)).alias("_off"),
        F.sum("_bc").over(w_all).alias("_n"),
    )
    w_in = (
        Window.partitionBy("_bkt")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        b.join(F.broadcast(boff), "_bkt")
        .withColumn("_cum", F.col("_off") + F.sum("_c").over(w_in))
        .drop("_bkt", "_off")
    )
