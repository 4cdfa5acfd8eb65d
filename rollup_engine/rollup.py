"""Per-tier continuous-aggregate rollup — the engine's core operator.

Generalizes the reference's single global aggregate
(count / time.{avg,min,median,90percent,99percent,max} /
error.{4xx,5xx}_rate — /root/reference/src/analyzer/mod.rs:34-68,
/root/reference/src/analyzer/aggregated_error_rates.rs:27-68) into one
row per (tier, time bucket).

Pinned reference semantics preserved per bucket:
- avg truncated to integer ms: [1,10,100] → 37
  (/root/reference/src/analyzer/mod.rs:98-107; floor ≡ truncate for
  non-negative ms).
- nearest-rank percentiles: [1,10,100] → p50=10, p90=100, p99=100
  (/root/reference/src/analyzer/mod.rs:90-115).
- error rates rounded half-up to 4 decimals: 1/3 → 0.3333
  (/root/reference/src/analyzer/aggregated_error_rates.rs:154-168);
  computed in float64 (the reference's f32 is a precision hazard we fix,
  SURVEY.md §7.4).
- empty buckets: no row from groupBy; gap-fill reinstates them with
  count=0 and null metrics (/root/reference/src/analyzer/mod.rs:47-53).

Plan shape (the thing that matters at 100 TB): scan → [pushed filters]
→ window-lag on conv_id → project (bucket, delta, error flags) → hash
aggregate with partial (map-side) + final phases.  All JVM/codegen; the
only shuffles are the conv_id exchange (deltas) and the bucket exchange
(final agg).  percentile_approx partial-merges like any built-in
aggregate, so map-side combine applies to the sketch too.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import sqltext
from .deltas import DELTA_COL
from .percentiles import approx_nearest_rank, exact_nearest_rank
from .schema import TIERS

ERR4 = "error:4"
ERR5 = "error:5"


def error_flag_sql(prefix: str) -> str:
    """1.0 when the turn's tool outcome is in the given error class —
    the transcript analog of HttpError classification from the status
    token's first char (/root/reference/src/log_parser/log_events.rs:105-114).
    SQL text, for the plan builders that assemble whole stages as text.
    """
    return (
        f"CASE WHEN startswith(coalesce(tool, ''), {sqltext.string(prefix)}) "
        "THEN 1.0D ELSE 0.0D END"
    )


def error_flag(prefix: str) -> Column:
    """``error_flag_sql`` as a Column."""
    return F.expr(error_flag_sql(prefix))


METRIC_COLS = [
    "turn_count",
    "lat_min_ms",
    "lat_max_ms",
    "lat_avg_ms",
    "lat_p50_ms",
    "lat_p90_ms",
    "lat_p99_ms",
    "lat_sum_ms",
    "err4xx_rate",
    "err5xx_rate",
]

PERCENTILE_COLS = {"lat_p50_ms": 0.5, "lat_p90_ms": 0.9, "lat_p99_ms": 0.99}


def metric_agg_map(delta_col: str = DELTA_COL) -> dict[str, Column]:
    """The nine reference metrics + lat_sum_ms (kept for exact avg in
    the tier cascade) as named aggregate expressions."""
    d = F.col(delta_col)
    return {
        "turn_count": F.count(d),
        "lat_min_ms": F.min(d),
        "lat_max_ms": F.max(d),
        "lat_avg_ms": F.floor(F.avg(d)).cast("long"),
        "lat_p50_ms": approx_nearest_rank(d, 0.5),
        "lat_p90_ms": approx_nearest_rank(d, 0.9),
        "lat_p99_ms": approx_nearest_rank(d, 0.99),
        "lat_sum_ms": F.sum(d),
        "err4xx_rate": F.round(F.avg(error_flag(ERR4)), 4),
        "err5xx_rate": F.round(F.avg(error_flag(ERR5)), 4),
    }


def metric_aggs(delta_col: str = DELTA_COL) -> list[Column]:
    return [c.alias(name) for name, c in metric_agg_map(delta_col).items()]


def _bucketed(
    deltas: DataFrame, bucket: Column, tier: str, extra_keys: list[str] | None
) -> DataFrame:
    """One row per (bucket, extra keys) with the reference metrics,
    labelled ``tier`` — the body ``rollup`` and ``rollup_interval``
    share; they differ only in the bucket expression and the label."""
    keys = [bucket.alias("bucket_start"), *[F.col(k) for k in extra_keys or []]]
    out = deltas.groupBy(*keys).agg(*metric_aggs())
    return out.withColumn("tier", F.lit(tier)).select(
        "tier",
        "bucket_start",
        *[c for c in out.columns if c != "bucket_start"],
    )


def rollup(
    deltas: DataFrame,
    tier: str = "minute",
    extra_keys: list[str] | None = None,
) -> DataFrame:
    """Tumbling-window rollup at the given tier.

    ``date_trunc`` (not ``window()``) keys the bucket: it yields a flat
    timestamp column — groupable, joinable against gap-fill spines, and
    1:1 with the DuckDB oracle's ``date_trunc`` — while compiling to the
    same hash-aggregate plan.
    """
    bucket = F.date_trunc(TIERS[tier].duckdb_trunc, F.col("ts"))
    return _bucketed(deltas, bucket, tier, extra_keys)


def rollup_interval(
    deltas: DataFrame,
    width_seconds: int,
    extra_keys: list[str] | None = None,
) -> DataFrame:
    """Rollup at an ARBITRARY tumbling-bucket width (the TimescaleDB
    ``time_bucket(INTERVAL ...)`` analog) — the named minute/hour/day
    tiers are the retention ladder; ad-hoc analysis wants 5-minute or
    15-second buckets without a schema change.

    Bucket key = epoch-µs floor division, in exact int64 (``e - e mod
    w``, never a double quotient whose rounding could flip a boundary):
    identical arithmetic in the DuckDB oracle via ``make_timestamp``.
    Same metric set and plan shape as ``rollup`` (one hash aggregate
    with map-side partials; the only added expression is the modulo).
    """
    w_us = int(width_seconds) * 1_000_000
    e = F.unix_micros(F.col("ts").cast("timestamp"))
    bucket = F.timestamp_micros(e - F.pmod(e, F.lit(w_us)))
    return _bucketed(deltas, bucket, f"{int(width_seconds)}s", extra_keys)


def global_rollup(deltas: DataFrame, delta_col: str = DELTA_COL) -> DataFrame:
    """The reference's exact shape: ONE aggregate row for the whole
    (filtered) input (/root/reference/src/main.rs:92-114).  count=0 with
    null metrics when empty — Spark's global agg emits exactly that row.

    Percentiles use the exact counting-sort path (the single global
    group can exceed the GK sketch's exactness ceiling); the base
    aggregates stay one-pass.  The two branches share the scan and the
    1-row join is a broadcast nested loop — negligible.
    """
    agg_map = metric_agg_map(delta_col)
    base = deltas.agg(
        *[
            c.alias(n)
            for n, c in agg_map.items()
            if n not in PERCENTILE_COLS
        ]
    )
    percs = exact_nearest_rank(
        deltas, delta_col, list(PERCENTILE_COLS.values())
    ).select(
        F.col("q0_5").alias("lat_p50_ms"),
        F.col("q0_9").alias("lat_p90_ms"),
        F.col("q0_99").alias("lat_p99_ms"),
    )
    return base.join(percs, F.lit(True), "left").select(*METRIC_COLS)
