"""Retention over hist tiers: horizon expiry, the stitched serving view
and the resolution router."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from rollup_engine.hist_rollup import hist_cascade, hist_rollup
from rollup_engine.retention import expire, select_tier, stitch_tiers

from .test_hist_rollup import _deltas


def test_retention_expiry(spark):
    minute = hist_rollup(_deltas(spark), "minute")
    # events span Jan 2024; "now" = Feb 8 → 7-day minute horizon keeps
    # only buckets >= Feb 1
    kept = expire(minute, "minute", dt.datetime(2024, 2, 8))
    assert kept.count() == minute.where("bucket_start >= '2024-02-01'").count()


def test_stitch_tiers_bands_disjoint_and_edge_snapped(spark):
    """stitch_tiers with an UNALIGNED now: the minute/hour edge must
    snap DOWN to an hour boundary (no hour bucket straddles it), bands
    must be disjoint, and the union must equal the per-band counts."""
    minute = hist_rollup(_deltas(spark), "minute")
    hour = hist_cascade(minute, "hour")
    tiers = {"minute": minute, "hour": hour, "day": hist_cascade(hour, "day")}
    now = dt.datetime(2024, 1, 20, 13, 37, 42)  # mid-hour, mid-minute
    out = stitch_tiers(tiers, now).cache()
    edge = dt.datetime(2024, 1, 13, 13, 0, 0)  # trunc('hour', now-7d)
    mins = out.where("tier = 'minute'")
    hours = out.where("tier = 'hour'")
    assert mins.where(F.col("bucket_start") < F.lit(edge)).count() == 0
    assert hours.where(F.col("bucket_start") >= F.lit(edge)).count() == 0
    # exact band contents: every retained source bucket appears
    assert mins.count() == tiers["minute"].where(
        F.col("bucket_start") >= F.lit(edge)
    ).count()
    assert hours.count() == tiers["hour"].where(
        F.col("bucket_start") < F.lit(edge)
    ).count()
    # Jan-only data, 90-day hour horizon → the day band is empty
    assert out.where("tier = 'day'").count() == 0
    out.unpersist()


def test_select_tier_boundaries():
    """Router boundaries: exactly-fits stays fine-grained; one bucket
    over the budget falls to the next tier; nothing fits → coarsest."""
    t0 = dt.datetime(2024, 1, 1)
    day = dt.timedelta(days=1)
    assert select_tier(t0, t0 + day, 1440) == "minute"  # exactly fits
    assert select_tier(t0, t0 + day, 1439) == "hour"
    assert select_tier(t0, t0 + 30 * day, 800) == "hour"  # 720 ≤ 800
    assert select_tier(t0, t0 + 30 * day, 100) == "day"
    # week/month route too; nothing fits → coarsest AVAILABLE
    assert select_tier(t0, t0 + 3650 * day, 200) == "month"  # 121.6 ≤ 200
    assert select_tier(t0, t0 + 3650 * day, 10) == "month"  # fallback
    assert (
        select_tier(t0, t0 + 3650 * day, 10, available=["minute", "hour", "day"])
        == "day"
    )
    # a tiers dict missing 'day' must route inside what exists, not
    # KeyError
    assert (
        select_tier(t0, t0 + 30 * day, 100, available=["minute", "hour"])
        == "hour"
    )
    assert select_tier("2024-01-01", "2024-01-02", 1440) == "minute"
