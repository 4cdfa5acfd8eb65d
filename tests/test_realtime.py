"""Real-time continuous aggregate: cold materialized tier ∪ hot raw
tail must equal a from-scratch rollup, with partition pruning on the
cold scan and exact cross-boundary delta seeding."""

from __future__ import annotations

import pandas as pd
import pytest

from rollup_engine.deltas import with_deltas
from rollup_engine.hist_rollup import hist_rollup
from rollup_engine.realtime import (
    conv_state_at,
    materialize_tier,
    realtime_rollup,
)
from rollup_engine.transcripts import from_events

SF = "/root/testdata/sf0.001"
METRICS = [
    "turn_count", "lat_min_ms", "lat_max_ms", "lat_avg_ms",
    "lat_p50_ms", "lat_p90_ms", "lat_p99_ms", "lat_sum_ms",
    "err4xx_rate", "err5xx_rate",
]


def _pdf(df):
    return df.toPandas().set_index("bucket_start").sort_index()[METRICS]


@pytest.fixture(scope="module")
def tier_setup(spark, tmp_path_factory):
    t = from_events(spark, SF)
    max_ts = t.agg({"ts": "max"}).first()[0]
    split = max_ts.replace(minute=0, second=0, microsecond=0)
    path = str(tmp_path_factory.mktemp("rt") / "minute_tier")
    materialize_tier(
        hist_rollup(with_deltas(t.where(f"ts < timestamp'{split}'")), "minute"),
        path,
    )
    return t, split, path


def test_realtime_equals_full_rollup(spark, tier_setup):
    t, split, path = tier_setup
    got = realtime_rollup(spark, path, t, "minute", split)
    want = hist_rollup(with_deltas(t), "minute")
    pd.testing.assert_frame_equal(_pdf(want), _pdf(got), check_dtype=False)


def test_cross_boundary_deltas_seeded(spark, tier_setup):
    """The first hot bucket must include deltas whose previous turn is
    pre-split — without the conv_state seed those rows would vanish."""
    t, split, path = tier_setup
    seeded = realtime_rollup(spark, path, t, "minute", split)
    unseeded_hot = hist_rollup(
        with_deltas(t.where(f"ts >= timestamp'{split}'")), "minute"
    )
    hot_n = (
        seeded.where(f"bucket_start >= timestamp'{split}'")
        .agg({"turn_count": "sum"})
        .first()[0]
    )
    assert hot_n > (unseeded_hot.agg({"turn_count": "sum"}).first()[0] or 0)


def test_cold_scan_partition_pruned(spark, tier_setup):
    t, split, path = tier_setup
    plan = realtime_rollup(spark, path, t, "minute", split)._jdf.queryExecution(
    ).executedPlan().toString()
    scan = next(
        ln for ln in plan.splitlines()
        if "minute_tier" in ln and "FileScan" in ln
    )
    assert "PartitionFilters: [" in scan
    assert "bucket_day" in scan.split("PartitionFilters", 1)[1]


def test_misaligned_split_rejected(spark, tier_setup):
    t, split, path = tier_setup
    import datetime as dt

    with pytest.raises(ValueError, match="boundary"):
        realtime_rollup(
            spark, path, t, "minute", split + dt.timedelta(seconds=30)
        )


def test_conv_state_is_last_pre_split_turn(spark, tier_setup):
    t, split, path = tier_setup
    st = conv_state_at(t, split)
    assert st.where(f"ts >= timestamp'{split}'").count() == 0
    assert st.groupBy("conv_id").count().where("count > 1").count() == 0


def test_realtime_accepts_checkpoint_shaped_state(spark, tier_setup):
    """Production passes the incremental checkpoint's conversation
    state, which carries only (conv_id, turn_idx, ts)."""
    from rollup_engine.deltas import last_turns

    t, split, path = tier_setup
    state = last_turns(t.where(f"ts < timestamp'{split}'"))
    assert state.columns == ["conv_id", "turn_idx", "ts"]
    got = realtime_rollup(spark, path, t, "minute", split, conv_state=state)
    want = hist_rollup(with_deltas(t), "minute")
    pd.testing.assert_frame_equal(_pdf(want), _pdf(got), check_dtype=False)
