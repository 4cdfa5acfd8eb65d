"""All-JVM histogram rollup: parity with the oracle-verified SQL rollup,
cascade exactness, and the log-quantized (DDSketch-style) overflow
contract — bounded state, exact scalars, ≤(γ-1)/2 percentile error."""

from __future__ import annotations

import math
import re

import pandas as pd
import pytest

from rollup_engine.deltas import with_deltas
from rollup_engine.hist_rollup import hist_cascade, hist_rollup
from rollup_engine.transcripts import from_events

METRICS = [
    "turn_count", "lat_min_ms", "lat_max_ms", "lat_avg_ms",
    "lat_p50_ms", "lat_p90_ms", "lat_p99_ms", "lat_sum_ms",
    "err4xx_rate", "err5xx_rate",
]


def _deltas(spark):
    return with_deltas(from_events(spark, "/root/testdata/sf0.001"))


def _pdf(df, cols=METRICS):
    return df.toPandas().set_index("bucket_start").sort_index()[cols]


def test_hist_rollup_matches_sql(spark):
    from rollup_engine.rollup import rollup

    d = _deltas(spark)
    pd.testing.assert_frame_equal(
        _pdf(rollup(d, "minute")), _pdf(hist_rollup(d, "minute")), check_dtype=False
    )


def test_hot_bucket_rollup_matches_sql(spark):
    """One hour bucket holds 95% of the rows.  hist_rollup's first
    exchange hash-partitions on (bucket_start, _v), so the hot bucket's
    rows spread over tasks by value — no bucket salting needed — and
    the result equals rollup()."""
    from pyspark.sql import functions as F

    from rollup_engine.rollup import rollup

    i = F.col("id")
    hour = F.when(i % 20 == 0, (i / 20).cast("long") % 24 + 1).otherwise(0)
    d = spark.range(6000).select(
        F.timestamp_seconds(F.lit(1_704_067_200) + hour * 3600 + i % 3600).alias("ts"),
        (i * 7919 % 5000).alias("delta_ms"),
        F.when(i % 13 == 0, "error:4xx")
        .when(i % 17 == 0, "error:5xx")
        .otherwise("ok")
        .alias("tool"),
    )
    out = hist_rollup(d, "hour")
    plan = out._jdf.queryExecution().executedPlan().toString()
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    # tree strings list the root first: the last exchange runs first
    assert re.fullmatch(r"bucket_start#\d+, _v#\d+L?, \d+", exchanges[-1]), plan
    pd.testing.assert_frame_equal(
        _pdf(rollup(d, "hour")), _pdf(out), check_dtype=False
    )


def test_hist_cascade_exact(spark):
    d = _deltas(spark)
    minute = hist_rollup(d, "minute")
    pd.testing.assert_frame_equal(
        _pdf(hist_rollup(d, "hour")), _pdf(hist_cascade(minute, "hour")),
        check_dtype=False,
    )
    pd.testing.assert_frame_equal(
        _pdf(hist_rollup(d, "day")),
        _pdf(hist_cascade(hist_cascade(minute, "hour"), "day")),
        check_dtype=False,
    )


def test_keyed_hist_rollup_and_cascade(spark):
    """extra_keys: keyed hist tier equals the keyed SQL rollup, and the
    keyed hour←minute cascade equals a direct keyed hour rollup."""
    from rollup_engine.rollup import rollup

    d = _deltas(spark)
    key = ["role"]

    def _p(df):
        return (
            df.toPandas()
            .set_index(["bucket_start", "role"])
            .sort_index()[METRICS]
        )

    pd.testing.assert_frame_equal(
        _p(rollup(d, "hour", extra_keys=key)),
        _p(hist_rollup(d, "hour", extra_keys=key)),
        check_dtype=False,
    )
    minute = hist_rollup(d, "minute", extra_keys=key)
    pd.testing.assert_frame_equal(
        _p(hist_rollup(d, "hour", extra_keys=key)),
        _p(hist_cascade(minute, "hour", extra_keys=key)),
        check_dtype=False,
    )


def test_cascade_null_hist_fails_fast(spark):
    """A hist=NULL row (sketch-tier) must raise, not silently vanish its
    counts through posexplode's null-array drop."""
    from pyspark.sql import functions as F
    from pyspark.errors import SparkRuntimeException

    minute = hist_rollup(_deltas(spark), "minute")
    poisoned = minute.withColumn(
        "hist",
        F.when(F.minute("bucket_start") == 0, F.lit(None)).otherwise(F.col("hist")),
    )
    with pytest.raises(SparkRuntimeException, match="hist=NULL"):
        hist_cascade(poisoned, "hour").collect()


SCALARS = [
    "turn_count", "lat_min_ms", "lat_max_ms", "lat_avg_ms", "lat_sum_ms",
    "err4xx_rate", "err5xx_rate",
]


def test_overflow_quantizes_hist(spark):
    """max_bins=4 forces every bucket with >4 distinct deltas onto the
    log-quantized histogram path: scalar metrics stay EXACT (mergeable
    carries), percentiles land within the γ bound, and the state stays
    a non-null hist bounded by the fixed-γ bin count."""
    from rollup_engine.hist_rollup import DD_GAMMA, DD_MAX_BINS

    d = _deltas(spark)
    exact = hist_rollup(d, "day")
    tiny = hist_rollup(d, "day", max_bins=4)
    pd.testing.assert_frame_equal(
        _pdf(exact, SCALARS), _pdf(tiny, SCALARS), check_dtype=False
    )
    pcols = ["lat_p50_ms", "lat_p90_ms", "lat_p99_ms"]
    a, b = _pdf(tiny, pcols), _pdf(exact, pcols)
    rel = ((a - b).abs() / b.clip(lower=1)).to_numpy().max()
    assert rel <= (DD_GAMMA - 1), f"quantized percentile off by {rel}"
    big = tiny.where("turn_count > 4").collect()
    assert big, "expected at least one overflowing day bucket"
    assert all(
        r.hist is not None and len(r.hist) <= 2 * DD_MAX_BINS + 1
        for r in big
    )


def test_narrow_projection_parity(spark):
    """hist_rollup over narrow_for_rollup (precomputed error flags,
    4 columns through the conv window) must equal the default path."""
    from rollup_engine.hist_rollup import narrow_for_rollup
    from rollup_engine.transcripts import clean, from_events

    raw = from_events(spark, "/root/testdata/sf0.001")
    full = hist_rollup(with_deltas(clean(raw)), "hour")
    narrow = hist_rollup(with_deltas(clean(narrow_for_rollup(raw))), "hour")
    pd.testing.assert_frame_equal(_pdf(full), _pdf(narrow), check_dtype=False)


def test_hot_bucket_overflow_is_bounded(spark):
    """The scale-killer fixture (VERDICT r1): ONE bucket, 10⁶ distinct
    delta values.  The finalize must bound the per-bucket ordered state:
    values log-quantize into ≤DD_MAX_BINS bins (here ~6.9k for the 10⁶
    domain) BEFORE the cumsum window / collect_list, scalars stay exact
    via the mergeable carries, percentile error stays within the γ
    bound — and the whole plan is JVM expressions (no Python stage, no
    lineage truncation)."""
    from pyspark.sql import functions as F

    from rollup_engine.hist_rollup import DD_GAMMA, _finalize_from_hist_rows

    n = 1_000_000
    h = (
        spark.range(n)
        .select(
            F.lit("2024-01-01 00:00:00").cast("timestamp").alias("bucket_start"),
            (F.col("id") + 1).alias("_v"),
            F.lit(1).alias("_c"),
            F.lit(0).alias("_e4"),
            F.lit(0).alias("_e5"),
        )
        .withColumns(
            {
                "_xmin": F.col("_v"),
                "_xmax": F.col("_v"),
                "_xsum": F.col("_v") * F.col("_c"),
            }
        )
        .repartition(32)
    )
    out = _finalize_from_hist_rows(h, max_bins=100_000)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan  # no Python on this path
    row = out.collect()[0]
    assert row.turn_count == n
    assert (row.lat_min_ms, row.lat_max_ms) == (1, n)
    assert row.lat_sum_ms == n * (n + 1) // 2
    assert row.hist is not None
    # the 1..10⁶ domain needs ln(10⁶)/ln(γ) ≈ 6.9k log bins
    assert len(row.hist) <= math.ceil(math.log(n) / math.log(DD_GAMMA)) + 1
    # fixed-γ quantizer bound: relative error ≤ (γ-1)
    assert abs(row.lat_p50_ms - n // 2) <= (DD_GAMMA - 1) * n
    assert abs(row.lat_p90_ms - 0.9 * n) <= (DD_GAMMA - 1) * n
    assert abs(row.lat_p99_ms - 0.99 * n) <= (DD_GAMMA - 1) * n


def test_mixed_cascade_approximate(spark):
    """Cascading a tier where some buckets degraded to quantized
    histograms still produces a full result; counters exact (mergeable
    carries survive the cascade), percentiles within the γ bound."""
    d = _deltas(spark)
    hour_tiny = hist_rollup(d, "hour", max_bins=4)
    day_from_mixed = hist_cascade(hour_tiny, "day")
    day_exact = hist_rollup(d, "day")
    a = _pdf(day_from_mixed, ["turn_count", "lat_min_ms", "lat_max_ms",
                              "lat_sum_ms", "err4xx_rate", "err5xx_rate"])
    b = _pdf(day_exact, a.columns.tolist())
    pd.testing.assert_frame_equal(a, b, check_dtype=False)
    pa = _pdf(day_from_mixed, ["lat_p50_ms"]).join(
        _pdf(day_exact, ["lat_p50_ms"]), rsuffix="_exact"
    )
    rel = (
        (pa["lat_p50_ms"] - pa["lat_p50_ms_exact"]).abs()
        / pa["lat_p50_ms_exact"].clip(lower=1)
    )
    assert (rel < 0.05).all(), pa[rel >= 0.05]


def test_pinned_vector_hist(spark):
    """[1,10,100] through hist_rollup: avg=37, p50=10, p90=p99=100."""
    from .conftest import make_transcript, ts_seq

    times = ts_seq("2024-01-01T00:00:00", [1, 10, 100])
    rows = [("c", i, "user", "t", "", t) for i, t in enumerate(times)]
    d = with_deltas(make_transcript(spark, rows))
    r = hist_rollup(d, "day").collect()[0]
    assert (r.turn_count, r.lat_avg_ms, r.lat_p50_ms, r.lat_p90_ms, r.lat_p99_ms) == (
        3, 37, 10, 100, 100,
    )
    assert [(e.v, e.c) for e in r.hist] == [(1, 1), (10, 1), (100, 1)]

def test_dd_quantizer_properties(spark):
    """Fixed-γ log quantizer invariants that the overflow contract rests
    on: sign symmetry, zero fixed point, small integers exact (they are
    their own representative, so low-latency distributions never blur),
    relative error ≤ (γ-1) everywhere, and cascade stability — a
    representative re-quantizes to (at worst) an adjacent representative
    within the same relative bound."""
    import numpy as np

    from rollup_engine.hist_rollup import DD_GAMMA, dd_quantize

    rng = np.random.RandomState(11)
    vals = (
        [0]
        + list(range(1, 401))
        + [-v for v in range(1, 401, 7)]
        + [10**k for k in range(3, 19)]
        + [int(x) for x in rng.randint(401, 2**62, size=300)]
    )
    df = spark.createDataFrame([(int(v),) for v in vals], "v: long")
    rows = (
        df.select("v", dd_quantize("v").alias("r"))
        .withColumn("rr", dd_quantize("r"))
        .collect()
    )
    a = DD_GAMMA - 1
    for v, r, rr in [(x.v, x.r, x.rr) for x in rows]:
        if v == 0:
            assert r == 0 and rr == 0
            continue
        assert (r > 0) == (v > 0), (v, r)
        if abs(v) <= 400:
            assert r == v, f"small int not exact: {v} -> {r}"
        assert abs(r - v) <= max(1, a * abs(v)), f"error bound: {v} -> {r}"
        assert abs(rr - r) <= max(1, a * abs(r)), f"not stable: {r} -> {rr}"


def test_hist_sliding_matches_direct(spark):
    """Hopping-window merge of the minute tier equals a direct rollup
    of the raw rows replicated into their 5 containing windows (the
    epoch-aligned F.window convention: starts = floor_minute(ts) − k)."""
    from pyspark.sql import functions as F

    from rollup_engine.hist_rollup import hist_sliding

    d = _deltas(spark)
    minute = hist_rollup(d, "minute")
    slid = hist_sliding(minute, length="5 minutes", hop="1 minute")

    shifted = F.timestamp_micros(
        F.unix_micros(F.date_trunc("minute", F.col("ts").cast("timestamp")))
        - F.col("_k") * F.lit(60_000_000)
    )
    rep = (
        d.withColumn("_k", F.explode(F.array(*[F.lit(i) for i in range(5)])))
        .withColumn("ts", shifted)
    )
    direct = hist_rollup(rep, "minute")
    a = _pdf(slid)
    b = _pdf(direct)
    a.index = pd.to_datetime(a.index)
    b.index = pd.to_datetime(b.index)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_hist_sliding_degenerate_is_tumbling(spark):
    """length == hop == tier width degenerates to the tier itself."""
    from rollup_engine.hist_rollup import hist_sliding

    d = _deltas(spark)
    minute = hist_rollup(d, "minute")
    slid = hist_sliding(minute, length="1 minute", hop="1 minute")
    a = _pdf(slid)
    b = _pdf(minute)
    a.index = pd.to_datetime(a.index)
    b.index = pd.to_datetime(b.index)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_calendar_tier_cascade_exact(spark):
    """Week/month calendar tiers (variable-length buckets — date_trunc
    only, no window()): the day→week and day→month cascades must equal
    direct calendar-tier rollups of the raw deltas, and week buckets
    must land on Mondays / month buckets on the 1st."""
    d = _deltas(spark)
    day = hist_rollup(d, "day")
    for tier, dow_check in [("week", True), ("month", False)]:
        got = _pdf(hist_cascade(day, tier))
        want = _pdf(hist_rollup(d, tier))
        pd.testing.assert_frame_equal(want, got, check_dtype=False)
        for b in got.index:
            if dow_check:
                assert b.weekday() == 0, f"week bucket {b} not a Monday"
            else:
                assert b.day == 1, f"month bucket {b} not the 1st"


def test_dd_quantizer_pinned_values(spark):
    """The quantizer's outputs at the edges of its domain, recorded
    from the Column-expression formula it replaced: the exact small
    integers, the first quantized magnitudes, 2^53 (the last exact
    double integer) and ±(2^63−1), clamped so the cast never
    overflows."""
    from rollup_engine.hist_rollup import dd_quantize

    want = {
        0: 0,
        1: 1,
        499: 499,
        500: 500,
        501: 501,
        1000: 1000,
        10**6: 999_679,
        2**53: 9_002_475_205_227_997,
        2**63 - 1: 9_200_000_000_000_000_000,
    }
    want.update({-v: -r for v, r in want.items()})
    df = spark.createDataFrame([(v,) for v in want], "v: long")
    got = {r.v: r.q for r in df.select("v", dd_quantize("v").alias("q")).collect()}
    assert got == want


def test_hist_rollup_quotes_column_names(spark):
    """Breakdown keys and the delta column may be any column name:
    a rollup over ``my key`` / ``lat ms`` equals the one over plainly
    named columns."""
    d = _deltas(spark)
    plain = hist_rollup(d, "hour", extra_keys=["role"])
    spaced = hist_rollup(
        d.withColumnsRenamed({"role": "my key", "delta_ms": "lat ms"}),
        "hour",
        extra_keys=["my key"],
        delta_col="lat ms",
    ).withColumnRenamed("my key", "role")
    assert spaced.columns == plain.columns
    assert spaced.exceptAll(plain).count() == 0
    assert plain.exceptAll(spaced).count() == 0
