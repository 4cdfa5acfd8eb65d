"""Retention: tier expiry, the stitched serving view and the
resolution router over the hist tiers.

The reference achieves "continuous monitoring" by re-running the whole
pipeline per minute via cron, and its Prometheus mode recomputes
everything per scrape.  Our engine replaces recompute-per-read with a
rollup cascade: the minute tier is the only pass over raw turns; hour
and day tiers are merges of the minute tier's mergeable histogram state
(``hist_rollup.hist_cascade``: counters add, min/max fold, (value,
count) rows re-aggregate) — at 10^12 turns this is the difference
between re-reading 100 TB and re-reading a few MB of tier state.

Exactness: cascaded percentiles are bit-identical to a direct rollup at
the coarser tier while every bucket holds ≤ ``HIST_MAX_BINS`` distinct
values (pinned by the rollup_hour_cascade and rollup_day_cascade oracle
gates); above that the log-quantized histogram bounds the relative error
(see ``hist_rollup``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .schema import TIERS

_TIER_SECS = {
    "minute": 60,
    "hour": 3600,
    "day": 86400,
    # calendar tiers use their nominal spans for point-budget routing
    "week": 7 * 86400,
    "month": 30 * 86400,
}


def stitch_tiers(tiers: dict[str, DataFrame], now) -> DataFrame:
    """The serving view retention actually exists for: one relation
    covering ALL of history at the finest resolution still retained —
    recent time from the minute tier, the mid-range from the hour tier,
    the deep past from the day tier (the TimescaleDB retention-policy +
    continuous-aggregate composition; the reference has no tiers at all
    — every query re-reads raw, README.md:126-147).

    Band edges come from each tier's ``retention_buckets`` horizon,
    TRUNCATED to the next-coarser tier's bucket boundary so no coarse
    bucket straddles an edge (an un-snapped 90-day edge mid-day would
    let one day bucket overlap the hour band — double counting).  Bands
    are disjoint by construction: tier i serves
    [trunc(now − horizon_i), previous band's lower edge).

    Scale shape: pure per-tier bucket_start range filters (partition-
    prunable on materialized ds-partitioned tiers) + UNION ALL — no
    join, no shuffle beyond what built the tiers.
    """
    order = [t for t in ("minute", "hour", "day") if t in tiers]
    if not order:
        raise ValueError("need at least one of minute/hour/day")
    now_ts = F.lit(now).cast("timestamp")
    out = None
    hi = None  # exclusive upper edge of the current band (None = +inf)
    for i, name in enumerate(order):
        t = TIERS[name]
        last = i == len(order) - 1
        if t.retention_buckets is None or last:
            lo = None  # keep-forever tier closes the cascade
        else:
            coarser = TIERS[order[i + 1]]
            lo = F.date_trunc(
                coarser.duckdb_trunc,
                now_ts
                - F.expr(
                    f"INTERVAL {t.retention_buckets * _TIER_SECS[name]} SECONDS"
                ),
            )
        df = tiers[name]
        if lo is not None:
            df = df.where(F.col("bucket_start") >= lo)
        if hi is not None:
            df = df.where(F.col("bucket_start") < hi)
        out = df if out is None else out.unionByName(df)
        hi = lo
        if lo is None:
            break  # a keep-forever tier already covers the rest
    return out


def select_tier(
    range_start,
    range_end,
    max_points: int,
    available: list[str] | None = None,
) -> str:
    """Resolution router (the Grafana auto-interval analog): the
    FINEST tier whose bucket count over [range_start, range_end) fits
    ``max_points`` — a dashboard asking for a month at 800 points gets
    the hour tier, not 43 200 minute buckets it would only re-bin
    client-side.  Pure arithmetic on the tier registry; falls back to
    the coarsest AVAILABLE tier when nothing fits.

    ``available`` restricts candidates to the tiers the caller actually
    has (round-6, r5 ADVICE: routing over a hardcoded minute/hour/day
    list raised KeyError in auto_rollup when the tiers dict lacked a
    member; week/month now route too).
    """
    import datetime as _dt

    def _ts(x):
        return x if isinstance(x, _dt.datetime) else _dt.datetime.fromisoformat(str(x))

    span_s = max((_ts(range_end) - _ts(range_start)).total_seconds(), 0.0)
    order = [
        n
        for n in ("minute", "hour", "day", "week", "month")
        if available is None or n in available
    ]
    if not order:
        raise ValueError(
            f"no routable tier among {sorted(available or [])}; "
            f"known: {sorted(_TIER_SECS)}"
        )
    for name in order:
        if span_s / _TIER_SECS[name] <= max_points:
            return name
    return order[-1]


def auto_rollup(
    tiers: dict[str, DataFrame], range_start, range_end, max_points: int
) -> DataFrame:
    """Serve [range_start, range_end) from the tier select_tier picks:
    one bucket_start range filter over that materialized tier —
    partition-prunable, no re-aggregation, no client-side re-binning."""
    name = select_tier(range_start, range_end, max_points, list(tiers))
    df = tiers[name]
    return df.where(
        (F.col("bucket_start") >= F.lit(range_start).cast("timestamp"))
        & (F.col("bucket_start") < F.lit(range_end).cast("timestamp"))
    )


def expire(rollup_df: DataFrame, tier: str, now) -> DataFrame:
    """Retention: drop buckets older than the tier's horizon."""
    t = TIERS[tier]
    if t.retention_buckets is None:
        return rollup_df
    secs = {"minute": 60, "hour": 3600, "day": 86400}[tier]
    horizon = F.lit(now).cast("timestamp") - F.expr(
        f"INTERVAL {t.retention_buckets * secs} SECONDS"
    )
    return rollup_df.where(F.col("bucket_start") >= horizon)
