"""All-JVM exact-tier rollup: histogram-as-array mergeable state, the
one engine every minute/hour/day tier runs on.

A Python sketch path would move every delta row through the Arrow
JVM↔Python boundary; measured, that transfer costs ~3.5 s per 10M rows
REGARDLESS of core count — a serial tax that caps scaling.  This module
keeps the mergeable per-bucket state inside the JVM as a sorted
``array<struct<v:long, c:long>>`` histogram column, so the whole
minute→hour→day cascade is expressible with built-in aggregates +
``explode`` and never leaves whole-stage codegen.

Plan (ONE lazy logical flow, two exchanges, zero Python, zero driver
actions — building the DataFrame never runs a job):

  deltas → groupBy(bucket, delta) count        [exchange 1, map-side combine]
         → window count(distinct values)/bucket [exchange 2 on bucket]
         → log-quantize values ONLY in buckets whose distinct-value
           count exceeds ``max_bins``           [pure expression]
         → re-group (bucket, value)             [no exchange: bucket
           partitioning co-locates (bucket, value)]
         → cumsum window + groupBy(bucket):     [no exchange]
             count/min/max/sum/avg   exact (carried as mergeable
                                     _xmin/_xmax/_xsum per hist row, so
                                     quantization never touches them)
             p50/p90/p99             nearest-rank: min v with cum ≥ ceil(q·n)
             hist                    sort_array(collect_list(struct(v, c)))
             err counters            summed alongside

Overflow contract (the reference's exact-≤threshold / approx-above,
/root/reference/Cargo.toml:20-21, generalized): buckets whose
distinct-value count exceeds ``max_bins`` store a DDSketch-style
log-quantized histogram instead of exact values — fixed γ = ``DD_GAMMA``
bins (bin i covers (γ^(i-1), γ^i]; representative = round(γ^(i-1/2)),
the geometric midpoint), bounding both the state and the percentile
error:

- state ≤ ``DD_MAX_BINS`` (≈21.9k) entries per sign class over the FULL
  int64 domain — a constant, independent of the data;
- p50/p90/p99 relative error ≤ (γ-1)/2 ≈ 0.1% (plus ±0.5 absolute from
  long rounding; values |v| ≲ 500 quantize to themselves exactly);
- count / min / max / sum / avg / error rates stay EXACT (carried
  state, not recomputed from quantized values);
- deterministic: unlike a merged t-digest, the quantizer is a pure
  function of the value — results never depend on partitioning or
  merge order;
- mergeable: a quantized histogram is still rows of (v, c), so cascades
  re-aggregate it through the same path (re-quantization is idempotent
  for |v| outside [~500, ~1000] and drifts at most one bin inside;
  total cascade error stays within ~2·(γ-1)/2).

Bound on the one per-bucket stage: the distinct-count window holds one
bucket's COMPRESSED (value, count) rows in a single (spillable) sort
task — O(distinct values), not O(rows); after quantization every later
per-bucket stage is ≤ max(max_bins, 2·DD_MAX_BINS+1) rows.  For
cluster-loss robustness there is deliberately NO lineage truncation
(localCheckpoint) anywhere: every stage can be recomputed from source.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .deltas import DELTA_COL
from .rollup import ERR4, ERR5, error_flag
from .schema import TIERS

HIST_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("v", T.LongType(), False),
            T.StructField("c", T.LongType(), False),
        ]
    )
)

HIST_ROLLUP_FIELDS = [
    T.StructField("bucket_start", T.TimestampType(), False),
    T.StructField("turn_count", T.LongType(), False),
    T.StructField("lat_min_ms", T.LongType(), True),
    T.StructField("lat_max_ms", T.LongType(), True),
    T.StructField("lat_avg_ms", T.LongType(), True),
    T.StructField("lat_p50_ms", T.LongType(), True),
    T.StructField("lat_p90_ms", T.LongType(), True),
    T.StructField("lat_p99_ms", T.LongType(), True),
    T.StructField("lat_sum_ms", T.LongType(), True),
    T.StructField("err4xx_cnt", T.LongType(), False),
    T.StructField("err5xx_cnt", T.LongType(), False),
    T.StructField("err4xx_rate", T.DoubleType(), True),
    T.StructField("err5xx_rate", T.DoubleType(), True),
    T.StructField("hist", HIST_TYPE, True),
]

_QS = {"lat_p50_ms": 0.5, "lat_p90_ms": 0.9, "lat_p99_ms": 0.99}

# Distinct values a bucket may hold exactly; buckets above it switch to
# the log-quantized histogram below.
HIST_MAX_BINS = 100_000

# Log-quantizer base: relative half-width (γ-1)/2 ≈ 0.1% per bin.
DD_GAMMA = 1.002
_DD_LOG_G = math.log(DD_GAMMA)
# Bins needed to cover 1..2^63 at this γ — the hard per-sign state bound
# for an overflow bucket, independent of max_bins and of the data.
DD_MAX_BINS = int(math.ceil(math.log(2.0**63) / _DD_LOG_G))
# Largest exactly-representable-in-double long below 2^63, used to clamp
# the top bin's representative so the double→long cast never overflows
# under ANSI arithmetic.
_LONG_CLAMP = 9.2e18


def dd_quantize(v: Column) -> Column:
    """DDSketch-style log quantizer as a pure Column expression.

    bin(v) = ceil(log_γ |v|), representative = round(γ^(bin-1/2)) with
    the sign restored; 0 → 0.  round (not floor) makes small integers
    (|v| ≲ 1/(γ-1) ≈ 500) their own representative and re-quantization
    idempotent.  Deterministic, mergeable, no state.
    """
    mag = F.abs(v.cast("double"))
    i = F.ceil(F.log(mag) / F.lit(_DD_LOG_G)).cast("double")
    rep = F.least(
        F.round(F.pow(F.lit(DD_GAMMA), i) / F.lit(math.sqrt(DD_GAMMA)), 0),
        F.lit(_LONG_CLAMP),
    ).cast("long")
    return (
        F.when(v > 0, rep)
        .when(v < 0, -rep)
        .otherwise(F.lit(0).cast("long"))
    )


def _percentile_aggs() -> list[Column]:
    return [
        F.min(
            F.when(
                F.col("_cum")
                >= F.greatest(F.lit(1), F.ceil(F.lit(q) * F.col("_n"))),
                F.col("_v"),
            )
        ).alias(name)
        for name, q in _QS.items()
    ]


def _finalize_from_hist_rows(
    h: DataFrame, max_bins: int, extra_keys: list[str] | None = None
) -> DataFrame:
    """(bucket_start, *extra_keys, _v, _c, _e4, _e5, _xmin, _xmax,
    _xsum) → one finished row per (bucket, keys) group, as ONE lazy
    plan.

    Input contract: one row per (bucket_start, _v); the _x* columns are
    the mergeable exact carries (min/max/sum-of-products contributions —
    ``_v``/``_v``/``_v·_c`` at the leaf, a source bucket's exact
    lat_min/lat_max/lat_sum in a cascade).

    Buckets whose distinct-value count exceeds ``max_bins`` have their
    values log-quantized (see ``dd_quantize``) BEFORE any per-bucket
    ordered computation, so the cumsum window and the collect_list are
    bounded by max(max_bins, 2·DD_MAX_BINS+1) rows/entries per bucket.
    The distinct-count window itself runs over the bucket's compressed
    (value, count) rows — O(distinct), spillable, and the only stage
    proportional to a hot bucket's value domain.

    Everything is built-in expressions inside two exchanges; building
    the returned DataFrame runs NO job (plan-pinned by
    tests/test_plans.py::test_hist_plan_build_runs_no_jobs).
    """
    grp = ["bucket_start", *(extra_keys or [])]
    w = Window.partitionBy(*grp)
    h2 = h.withColumn("_nd", F.count(F.lit(1)).over(w))
    qv = (
        F.when(F.col("_nd") <= F.lit(max_bins), F.col("_v"))
        .otherwise(dd_quantize(F.col("_v")))
    )
    # Re-group on the (possibly quantized) value.  Data is already
    # hash-partitioned by the group keys from the window exchange, which
    # co-locates (keys, _v) — no further exchange.
    h3 = (
        h2.select(
            *grp,
            qv.alias("_v"),
            "_c",
            "_e4",
            "_e5",
            "_xmin",
            "_xmax",
            "_xsum",
        )
        .groupBy(*grp, "_v")
        .agg(
            F.sum("_c").alias("_c"),
            F.sum("_e4").alias("_e4"),
            F.sum("_e5").alias("_e5"),
            F.min("_xmin").alias("_xmin"),
            F.max("_xmax").alias("_xmax"),
            F.sum("_xsum").alias("_xsum"),
        )
    )
    return _finalize_exact(h3, extra_keys)


def _finalize_exact(
    h: DataFrame, extra_keys: list[str] | None = None
) -> DataFrame:
    """Finalize hist rows whose per-bucket row count is already bounded:
    the cumsum window task is ≤ max(max_bins, 2·DD_MAX_BINS+1) rows per
    bucket.  Scalars come from the exact carries, percentiles from the
    (possibly quantized) values."""
    grp = ["bucket_start", *(extra_keys or [])]
    w_cum = (
        Window.partitionBy(*grp)
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*grp)
    h2 = h.withColumn("_cum", F.sum("_c").over(w_cum)).withColumn(
        "_n", F.sum("_c").over(w_all)
    )
    pairs = F.sort_array(
        F.collect_list(F.struct(F.col("_v").alias("v"), F.col("_c").alias("c")))
    )
    agg = h2.groupBy(*grp).agg(
        F.sum("_c").alias("turn_count"),
        F.min("_xmin").alias("lat_min_ms"),
        F.max("_xmax").alias("lat_max_ms"),
        F.sum("_xsum").alias("lat_sum_ms"),
        *_percentile_aggs(),
        F.sum("_e4").alias("err4xx_cnt"),
        F.sum("_e5").alias("err5xx_cnt"),
        pairs.alias("hist"),
    )
    agg = agg.withColumns(
        {
            "lat_avg_ms": F.floor(F.col("lat_sum_ms") / F.col("turn_count")).cast(
                "long"
            ),
            "err4xx_rate": F.round(F.col("err4xx_cnt") / F.col("turn_count"), 4),
            "err5xx_rate": F.round(F.col("err5xx_cnt") / F.col("turn_count"), 4),
        }
    )
    return agg.select(
        *grp, *[f.name for f in HIST_ROLLUP_FIELDS if f.name != "bucket_start"]
    )


def narrow_for_rollup(transcripts: DataFrame) -> DataFrame:
    """Project a raw transcript table down to the four columns the
    delta→rollup pipeline actually consumes, with the error-class flags
    precomputed as tiny longs.  Applied BEFORE clean()/with_deltas(),
    this shrinks every row carried through the conv_id window exchange
    (tool strings → 2 bytes; text/role never read).  Catalyst prunes
    unused columns by itself but will not rewrite ``tool`` into flags
    ahead of the shuffle — this helper does that explicitly for the
    ingest/bench hot path.  hist_rollup detects the precomputed flags.
    """
    return transcripts.select(
        "conv_id",
        "turn_idx",
        "ts",
        error_flag(ERR4).cast("long").alias("_e4"),
        error_flag(ERR5).cast("long").alias("_e5"),
    )


def hist_rollup(
    deltas: DataFrame,
    tier: str = "minute",
    delta_col: str = DELTA_COL,
    max_bins: int = HIST_MAX_BINS,
    extra_keys: list[str] | None = None,
) -> DataFrame:
    """Exact-tier rollup with JVM-resident mergeable histogram state.

    ``extra_keys``: optional breakdown columns (e.g. ``["role"]``) —
    every stage groups/partitions by (bucket, keys); same plan shape,
    finer groups."""
    t = TIERS[tier]
    keys = list(extra_keys or [])
    has_flags = "_e4" in deltas.columns
    h = (
        deltas.select(
            F.date_trunc(t.duckdb_trunc, F.col("ts")).alias("bucket_start"),
            *[F.col(k) for k in keys],
            F.col(delta_col).alias("_v"),
            (F.col("_e4") if has_flags else error_flag(ERR4).cast("long")).alias("_e4"),
            (F.col("_e5") if has_flags else error_flag(ERR5).cast("long")).alias("_e5"),
        )
        .where(F.col("_v").isNotNull())  # COUNT(measure) null-skip semantics
        .groupBy("bucket_start", *keys, "_v")
        .agg(
            F.count(F.lit(1)).alias("_c"),
            F.sum("_e4").alias("_e4"),
            F.sum("_e5").alias("_e5"),
        )
        .withColumns(
            {
                "_xmin": F.col("_v"),
                "_xmax": F.col("_v"),
                "_xsum": F.col("_v") * F.col("_c"),
            }
        )
    )
    out = _finalize_from_hist_rows(h, max_bins, extra_keys=keys)
    return out.withColumn("tier", F.lit(tier)).select(
        "tier",
        "bucket_start",
        *keys,
        *[f.name for f in HIST_ROLLUP_FIELDS if f.name != "bucket_start"],
    )


def _merge_hist_state(
    rollup_df: DataFrame, bucket: Column, keys: list[str], caller: str
) -> DataFrame:
    """Explode a hist tier's per-bucket state into (value, count) rows,
    re-keyed on ``bucket`` (a ``date_trunc`` target or an ``F.window``
    struct, aliased ``bucket_start``), and merge equal values per new
    group: the shared front half of ``hist_cascade`` and
    ``hist_sliding``.

    Exact scalars ride along the exploded relation attached to each
    source bucket's first hist element (position 0), like the error
    counters, so a quantized source bucket still merges with exact
    count/min/max/sum/avg.

    Duplicate values collapse across source buckets BEFORE the
    finalize's distinct-count window (its count must be over distinct
    values).  This groupBy is a SECOND exchange on top of the finalize's
    window exchange — deliberate: its map-side combine compresses the
    exploded relation before any shuffle (a hot quantized bucket
    collapses ~source-bucket-count : 1, e.g. 60:1 for hour←minute),
    which beats the one-exchange alternative (repartition(bucket) then
    window) that would shuffle the exploded rows uncombined (measured
    equal at sf0.1; combine wins at scale).
    """
    first = F.col("_pos") == 0
    # posexplode silently DROPS null-array rows, which would vanish a
    # bucket's counts/min/max/sum without any error — fail fast instead.
    # The guard is a lazy per-row expression: zero driver jobs at plan
    # build.
    guarded = rollup_df.withColumn(
        "hist",
        F.when(F.col("hist").isNotNull(), F.col("hist")).otherwise(
            F.raise_error(
                F.lit(
                    f"{caller}: input row has hist=NULL — every tier row "
                    "must carry hist state"
                )
            )
        ),
    )
    return (
        guarded.select(
            bucket.alias("bucket_start"),
            *keys,
            F.posexplode("hist").alias("_pos", "_e"),
            "err4xx_cnt",
            "err5xx_cnt",
            "lat_min_ms",
            "lat_max_ms",
            "lat_sum_ms",
        )
        .select(
            "bucket_start",
            *keys,
            F.col("_e.v").alias("_v"),
            F.col("_e.c").alias("_c"),
            # attribute the source bucket's exact carries once (pos 0)
            F.when(first, F.col("err4xx_cnt")).otherwise(F.lit(0)).alias("_e4"),
            F.when(first, F.col("err5xx_cnt")).otherwise(F.lit(0)).alias("_e5"),
            F.when(first, F.col("lat_min_ms")).alias("_xmin"),
            F.when(first, F.col("lat_max_ms")).alias("_xmax"),
            F.when(first, F.col("lat_sum_ms")).otherwise(F.lit(0)).alias("_xsum"),
        )
        .groupBy("bucket_start", *keys, "_v")
        .agg(
            F.sum("_c").alias("_c"),
            F.sum("_e4").alias("_e4"),
            F.sum("_e5").alias("_e5"),
            F.min("_xmin").alias("_xmin"),
            F.max("_xmax").alias("_xmax"),
            F.sum("_xsum").alias("_xsum"),
        )
    )


def hist_sliding(
    rollup_df: DataFrame,
    length: str = "5 minutes",
    hop: str = "1 minute",
    extra_keys: list[str] | None = None,
) -> DataFrame:
    """Hopping-window re-aggregation of a hist tier: full metric set
    (count/min/max/avg/sum/percentiles/error rates) for every sliding
    window of ``length`` advancing by ``hop`` — assembled by MERGING the
    tier's per-bucket histogram state, never re-reading raw data.

    This is ``hist_cascade`` with the tumbling ``date_trunc`` target
    swapped for Spark's native ``F.window(length, hop)`` grouping: the
    analyzer's TimeWindowing rule expands each tier bucket into its
    length/hop windows (an Expand node — map-side, no join, and the
    same rewrite Structured Streaming uses, so the plan is
    stream-portable).  Cost = (length/hop) × tier state, independent of
    raw row volume — the monitoring dashboard's "p99 over the last 5
    minutes, refreshed every minute" at 100 TB reads the minute tier,
    not the events.

    Each source bucket contributes its exact carries once to EVERY
    window that contains it.  Percentiles re-derive from the merged
    (value, count) rows — exact while every contributing bucket is
    exact, within the documented γ bound otherwise; windows whose merged
    distinct-value count exceeds ``max_bins`` re-quantize, so per-window
    state stays bounded no matter how many buckets a window spans.
    """
    keys = list(extra_keys or [])
    h = _merge_hist_state(
        rollup_df, F.window("bucket_start", length, hop), keys, "hist_sliding"
    ).withColumn("bucket_start", F.col("bucket_start.start"))
    out = _finalize_from_hist_rows(h, max_bins=HIST_MAX_BINS, extra_keys=keys)
    return out.select(
        "bucket_start",
        *keys,
        *[f.name for f in HIST_ROLLUP_FIELDS if f.name != "bucket_start"],
    )


def hist_cascade(
    rollup_df: DataFrame, to_tier: str, extra_keys: list[str] | None = None
) -> DataFrame:
    """Re-aggregate a finer hist-rollup tier into ``to_tier`` without
    touching raw data — one lazy plan, no driver actions.

    Every input row must carry a non-null ``hist``; a NULL one fails the
    job.  Percentiles re-derive from the merged (value, count) rows —
    exact when every contributing bucket was exact, within the
    documented γ bound otherwise.
    """
    t = TIERS[to_tier]
    keys = list(extra_keys or [])
    h = _merge_hist_state(
        rollup_df,
        F.date_trunc(t.duckdb_trunc, F.col("bucket_start")),
        keys,
        "hist_cascade",
    )
    out = _finalize_from_hist_rows(h, max_bins=HIST_MAX_BINS, extra_keys=keys)
    return out.withColumn("tier", F.lit(to_tier)).select(
        "tier",
        "bucket_start",
        *keys,
        *[f.name for f in HIST_ROLLUP_FIELDS if f.name != "bucket_start"],
    )
