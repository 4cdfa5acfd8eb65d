"""Per-bucket histogram state — the tier engine's one quantile state:
build, merge and overflow properties of the (value, count) ``hist``
column, and cascade parity of the merged state itself (not only of the
finished metrics) against direct rollups."""

from __future__ import annotations

import datetime as dt
import math
from collections import Counter

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from rollup_engine.deltas import with_deltas
from rollup_engine.hist_rollup import hist_cascade, hist_rollup
from rollup_engine.transcripts import from_events

SF = "/root/testdata/sf0.001"
METRICS = [
    "turn_count", "lat_min_ms", "lat_max_ms", "lat_avg_ms",
    "lat_p50_ms", "lat_p90_ms", "lat_p99_ms", "lat_sum_ms",
    "err4xx_rate", "err5xx_rate",
]
T0 = dt.datetime(2024, 1, 1)


def _deltas(spark):
    return with_deltas(from_events(spark, SF))


def _value_frame(spark, rows):
    """(ts, delta_ms) rows with zero error flags: a bare measure input."""
    return spark.createDataFrame(rows, "ts timestamp, delta_ms long").withColumns(
        {"_e4": F.lit(0).cast("long"), "_e5": F.lit(0).cast("long")}
    )


def _state(df):
    """Every tier row, hist state included, keyed and ordered by bucket."""
    return sorted(tuple(r) for r in df.drop("tier").collect())


def nearest_rank(vals, q):
    s = sorted(vals)
    return s[max(1, math.ceil(q * len(s) - 1e-9)) - 1]


def test_hist_pinned_vector(spark):
    """[1,10,100] → p50=10, p90=p99=100, and the exact state survives
    every cascade level unchanged."""
    rows = [(T0 + dt.timedelta(seconds=i), v) for i, v in enumerate([1, 10, 100])]
    minute = hist_rollup(_value_frame(spark, rows), "minute")
    hour = hist_cascade(minute, "hour")
    for tier in (minute, hour, hist_cascade(hour, "day")):
        r = tier.collect()[0]
        assert (r.turn_count, r.lat_p50_ms, r.lat_p90_ms, r.lat_p99_ms) == (
            3, 10, 100, 100,
        )
        assert [(e.v, e.c) for e in r.hist] == [(1, 1), (10, 1), (100, 1)]


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.lists(
            st.integers(min_value=0, max_value=10_000)
            | st.integers(min_value=0, max_value=20),
            min_size=1,
            max_size=300,
        ),
        min_size=1,
        max_size=40,
    )
)
def test_hist_matches_nearest_rank(spark, buckets):
    """Every random value list gets its own minute bucket, all in ONE
    Spark job: each bucket's p50/p90/p99 is the nearest-rank value."""
    rows = [
        (T0 + dt.timedelta(minutes=i), v)
        for i, vals in enumerate(buckets)
        for v in vals
    ]
    got = {
        r.bucket_start: (r.lat_p50_ms, r.lat_p90_ms, r.lat_p99_ms)
        for r in hist_rollup(_value_frame(spark, rows), "minute").collect()
    }
    want = {
        T0 + dt.timedelta(minutes=i): tuple(
            nearest_rank(vals, q) for q in (0.5, 0.9, 0.99)
        )
        for i, vals in enumerate(buckets)
    }
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=5000), min_size=1, max_size=200),
        min_size=2,
        max_size=6,
    )
)
def test_hist_merge_equals_build_on_union(spark, chunks):
    """Each chunk is its own minute bucket of one hour: merging their
    states into the hour equals building the hour state from the union
    of the values — the whole row, hist included (merge is lossless)."""
    rows = [
        (T0 + dt.timedelta(minutes=i, seconds=j % 60), v)
        for i, c in enumerate(chunks)
        for j, v in enumerate(c)
    ]
    d = _value_frame(spark, rows)
    merged = hist_cascade(hist_rollup(d, "minute"), "hour")
    assert _state(merged) == _state(hist_rollup(d, "hour"))


def test_merge_order_invariance(spark):
    """Merging is independent of row order and partitioning: the hour
    cascade of a reshuffled minute tier with quantized buckets equals
    the one of the tier as built, hist included."""
    minute = hist_rollup(_deltas(spark), "minute", max_bins=4)
    a = hist_cascade(minute, "hour").collect()
    b = hist_cascade(minute.repartition(7).orderBy(F.rand(3)), "hour").collect()
    assert sorted(a) == sorted(b)


def test_merge_empty(spark):
    minute = hist_rollup(_deltas(spark), "minute").limit(0)
    assert hist_cascade(minute, "hour").collect() == []


def test_hist_degrades_to_tdigest(spark):
    """The default HIST_MAX_BINS threshold: a bucket with exactly
    HIST_MAX_BINS distinct values keeps its exact state; one with five
    more degrades to the log-quantized histogram (the fixed-γ successor
    of the retired t-digest fallback) — fewer bins, same total weight,
    exact min/max/sum."""
    from rollup_engine.hist_rollup import DD_GAMMA, HIST_MAX_BINS

    n_exact, n_over = HIST_MAX_BINS, HIST_MAX_BINS + 5
    i = F.col("id")
    over = i >= n_exact
    d = spark.range(n_exact + n_over).select(
        F.when(over, F.lit(T0 + dt.timedelta(minutes=1)))
        .otherwise(F.lit(T0))
        .alias("ts"),
        F.when(over, i - n_exact + 1).otherwise(i + 1).alias("delta_ms"),
        F.lit(0).cast("long").alias("_e4"),
        F.lit(0).cast("long").alias("_e5"),
    )
    exact, quantized = sorted(hist_rollup(d, "minute").collect())
    assert len(exact.hist) == n_exact
    assert all(e.c == 1 for e in exact.hist)
    assert quantized.turn_count == n_over
    assert sum(e.c for e in quantized.hist) == n_over
    assert len(quantized.hist) <= math.ceil(math.log(n_over) / math.log(DD_GAMMA)) + 1
    assert (quantized.lat_min_ms, quantized.lat_max_ms) == (1, n_over)
    assert quantized.lat_sum_ms == n_over * (n_over + 1) // 2


def test_mixed_merge_promotes(spark):
    """Merging an exact bucket with a quantized one: the merged state is
    the sum of both (value, count) lists, so it carries the quantized
    bins; total weight and min/max/sum stay exact."""
    small = [1, 2, 3]
    wide = list(range(1000, 1010))
    rows = [(T0 + dt.timedelta(seconds=j), v) for j, v in enumerate(small)] + [
        (T0 + dt.timedelta(minutes=1, seconds=j), v) for j, v in enumerate(wide)
    ]
    minute = hist_rollup(_value_frame(spark, rows), "minute", max_bins=4)
    exact, quantized = sorted(minute.collect())
    assert [(e.v, e.c) for e in exact.hist] == [(1, 1), (2, 1), (3, 1)]
    assert len(quantized.hist) < len(wide)
    h = hist_cascade(minute, "hour").collect()[0]
    want = Counter({e.v: e.c for e in exact.hist})
    want.update({e.v: e.c for e in quantized.hist})
    assert [(e.v, e.c) for e in h.hist] == sorted(want.items())
    assert h.turn_count == sum(e.c for e in h.hist) == len(small) + len(wide)
    assert (h.lat_min_ms, h.lat_max_ms, h.lat_sum_ms) == (1, 1009, sum(small + wide))


def test_sketch_rollup_matches_sql_rollup(spark):
    """The registry's mergeable-state minute tier (``rollup_sketch_minute``)
    equals the SQL minute rollup and plans with no Python stage."""
    from rollup_engine.queries import q_rollup_sketch_minute
    from rollup_engine.rollup import rollup

    got = q_rollup_sketch_minute(spark, SF)
    plan = got._jdf.queryExecution().executedPlan().toString()
    for marker in ("FlatMapGroupsInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert marker not in plan, f"unexpected {marker} in rollup_sketch_minute"

    def _pdf(df):
        return df.toPandas().set_index("bucket_start").sort_index()[METRICS]

    pd.testing.assert_frame_equal(
        _pdf(rollup(_deltas(spark), "minute")), _pdf(got), check_dtype=False
    )


def test_cascade_hour_equals_direct(spark):
    """minute→hour state merge == direct hour rollup, bit-exact in every
    column including the hist state (exact histograms are lossless)."""
    d = _deltas(spark)
    assert _state(hist_cascade(hist_rollup(d, "minute"), "hour")) == _state(
        hist_rollup(d, "hour")
    )


def test_cascade_day_from_hour(spark):
    """minute→hour→day double merge == direct day rollup, hist included."""
    d = _deltas(spark)
    hour = hist_cascade(hist_rollup(d, "minute"), "hour")
    assert _state(hist_cascade(hour, "day")) == _state(hist_rollup(d, "day"))
