"""M4 downsampling + sessionization semantics (pinned vectors)."""

from __future__ import annotations

import datetime as dt

from rollup_engine.tsops import m4_downsample, session_stats, sessionize


def _ts(s):
    return dt.datetime.fromisoformat(s)


def _series(spark):
    rows = [
        # one user, one hour: values 30, 10, 50, 20 in time order
        (1, "a", _ts("2024-01-01T00:05:00"), 30.0),
        (2, "a", _ts("2024-01-01T00:15:00"), 10.0),
        (3, "a", _ts("2024-01-01T00:25:00"), 50.0),
        (4, "a", _ts("2024-01-01T00:55:00"), 20.0),
        # second hour, single point
        (5, "a", _ts("2024-01-01T01:30:00"), 7.0),
    ]
    return spark.createDataFrame(
        rows, "event_id: long, user_id: string, ts: timestamp, value: double"
    )


def test_m4_pinned_vector(spark):
    out = {
        r.bucket_start: r
        for r in m4_downsample(
            _series(spark), by=["user_id"], order_tiebreak="event_id"
        ).collect()
    }
    h0 = out[_ts("2024-01-01T00:00:00")]
    assert (h0.v_min, h0.v_max, h0.v_first, h0.v_last, h0.n) == (
        10.0, 50.0, 30.0, 20.0, 4,
    )
    h1 = out[_ts("2024-01-01T01:00:00")]
    assert (h1.v_min, h1.v_max, h1.v_first, h1.v_last, h1.n) == (
        7.0, 7.0, 7.0, 7.0, 1,
    )


def test_m4_deterministic_under_repartition(spark):
    df = _series(spark)
    a = sorted(
        map(tuple, m4_downsample(df.repartition(1), by=["user_id"],
                                 order_tiebreak="event_id").collect())
    )
    b = sorted(
        map(tuple, m4_downsample(df.repartition(7), by=["user_id"],
                                 order_tiebreak="event_id").collect())
    )
    assert a == b


def test_sessionize_gap_boundary(spark):
    """Gap strictly greater than gap_seconds starts a session: events at
    0, +30min (boundary, same session), +61min (new session)."""
    rows = [
        (1, "u", _ts("2024-01-01T00:00:00")),
        (2, "u", _ts("2024-01-01T00:30:00")),   # exactly 1800 s — kept
        (3, "u", _ts("2024-01-01T01:31:00")),   # 3660 s — new session
    ]
    df = spark.createDataFrame(rows, "event_id: long, user_id: string, ts: timestamp")
    out = {r.event_id: r.session_seq for r in sessionize(df, 1800, ["user_id"]).collect()}
    assert out == {1: 1, 2: 1, 3: 2}


def test_session_stats(spark):
    rows = [
        (1, "u", _ts("2024-01-01T00:00:00")),
        (2, "u", _ts("2024-01-01T00:10:00")),
        (3, "u", _ts("2024-01-01T02:00:00")),
        (4, "v", _ts("2024-01-01T00:00:00")),
    ]
    df = spark.createDataFrame(rows, "event_id: long, user_id: string, ts: timestamp")
    out = {
        (r.user_id, r.session_seq): (r.n_events, r.duration_sec)
        for r in session_stats(df, 1800, ["user_id"]).collect()
    }
    assert out == {
        ("u", 1): (2, 600.0),
        ("u", 2): (1, 0.0),
        ("v", 1): (1, 0.0),
    }


def test_rolling_zscore_pinned(spark):
    """Window of 3, min_periods 2: values 10,10,10,40 — the 40 scores
    z = (40-10)/0 → var 0 → NULL; 10,20,30,100 → z of 100 vs
    mean 20, var 100 → (100-20)/10 = 8.0.  Current row never in its own
    window."""
    from rollup_engine.tsops import rolling_zscore

    rows = [("a", i, v) for i, v in enumerate([10, 20, 30, 100])]
    rows += [("b", i, v) for i, v in enumerate([10, 10, 10, 40])]
    df = spark.createDataFrame(rows, "conv_id: string, turn_idx: int, delta_ms: long")
    out = {
        (r.conv_id, r.turn_idx): r.z
        for r in rolling_zscore(
            df, "delta_ms", by=["conv_id"], order_col="turn_idx",
            window_rows=3, min_periods=2, round_dp=4,
        ).collect()
    }
    assert out[("a", 0)] is None          # no history
    assert out[("a", 1)] is None          # 1 < min_periods
    # row 2: history [10,20] → mean 15, var 50 → (30-15)/√50 = 2.1213
    assert out[("a", 2)] == 2.1213
    # row 3: history [10,20,30] → mean 20, var 100 → (100-20)/10 = 8.0
    assert out[("a", 3)] == 8.0
    assert out[("b", 3)] is None          # zero variance window


def test_rolling_zscore_stable_under_repartition(spark):
    from rollup_engine.tsops import rolling_zscore

    rows = [("c%d" % (i % 7), i // 7, (i * 37) % 1000) for i in range(700)]
    df = spark.createDataFrame(rows, "conv_id: string, turn_idx: int, delta_ms: long")
    a = rolling_zscore(df, "delta_ms", by=["conv_id"], order_col="turn_idx")
    b = rolling_zscore(
        df.repartition(13), "delta_ms", by=["conv_id"], order_col="turn_idx"
    )
    key = lambda r: (r.conv_id, r.turn_idx)
    assert sorted(a.collect(), key=key) == sorted(b.collect(), key=key)


def test_interval_join_boundaries_and_bucket_crossing(spark):
    """Inclusive on both endpoints; an interval spanning multiple day
    buckets still matches points in every spanned day; non-overlapping
    points drop (inner join); per-key isolation."""
    from rollup_engine.tsops import interval_join

    points = spark.createDataFrame(
        [
            (1, "a", _ts("2024-01-01T10:00:00")),   # == start, inclusive
            (2, "a", _ts("2024-01-02T12:00:00")),   # mid, next day bucket
            (3, "a", _ts("2024-01-03T06:00:00")),   # == end, inclusive
            (4, "a", _ts("2024-01-03T06:00:01")),   # 1s past end — drops
            (5, "b", _ts("2024-01-02T12:00:00")),   # other key — drops
        ],
        "event_id: long, user_id: string, ts: timestamp",
    )
    intervals = spark.createDataFrame(
        [("a", 7, _ts("2024-01-01T10:00:00"), _ts("2024-01-03T06:00:00"))],
        "user_id: string, session_seq: long, session_start: timestamp,"
        " session_end: timestamp",
    )
    got = sorted(
        r.event_id
        for r in interval_join(points, intervals, by=["user_id"]).collect()
    )
    assert got == [1, 2, 3]


def test_interval_join_collision_raises(spark):
    import pytest

    from rollup_engine.tsops import interval_join

    points = spark.createDataFrame(
        [(1, "a", _ts("2024-01-01T10:00:00"))],
        "event_id: long, user_id: string, ts: timestamp",
    )
    bad = spark.createDataFrame(
        [("a", _ts("2024-01-01T00:00:00"), _ts("2024-01-02T00:00:00"), 9)],
        "user_id: string, session_start: timestamp, session_end: timestamp,"
        " event_id: long",
    )
    with pytest.raises(ValueError, match="collide"):
        interval_join(points, bad, by=["user_id"])


def test_rolling_zscore_single_exchange(spark):
    """One hash exchange on the key, three window sums in one Window
    node — the same plan shape as the delta extraction itself."""
    from rollup_engine.tsops import rolling_zscore

    df = spark.createDataFrame(
        [("a", 1, 10)], "conv_id: string, turn_idx: int, delta_ms: long"
    )
    out = rolling_zscore(df, "delta_ms", by=["conv_id"], order_col="turn_idx")
    import re

    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    # count the numbered node list ("(3) Exchange"), not the tree echo
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1, plan
    assert len(re.findall(r"^\(\d+\) Window", plan, re.M)) == 1, plan


def test_rolling_zscore_matches_pandas(spark):
    """Seeded random integer series: z equals an independent pandas
    implementation (shifted rolling mean/std over the trailing window,
    current row excluded) to 4 dp."""
    import numpy as np
    import pandas as pd

    from rollup_engine.tsops import rolling_zscore

    rng = np.random.RandomState(29)
    vals = rng.randint(0, 10_000, size=300)
    pdf = pd.DataFrame(
        {"conv_id": "k", "turn_idx": range(300), "delta_ms": vals}
    )
    W, MP = 20, 5
    hist = pdf["delta_ms"].shift(1).rolling(W, min_periods=MP)
    z_want = ((pdf["delta_ms"] - hist.mean()) / hist.std(ddof=1)).round(4)
    df = spark.createDataFrame(pdf)
    got = (
        rolling_zscore(
            df, "delta_ms", by=["conv_id"], order_col="turn_idx",
            window_rows=W, min_periods=MP,
        )
        .orderBy("turn_idx")
        .toPandas()["z"]
    )
    for g, w in zip(got, z_want):
        if pd.isna(w):
            assert g is None or pd.isna(g)
        else:
            assert abs(g - w) <= 1e-4, (g, w)


def test_ewma_pinned_and_matches_pandas(spark):
    """Pinned: constant series → ewma == the constant; ramp series
    matches pandas ewm(alpha=0.3, adjust=True) truncated at 6 lags."""
    import numpy as np
    import pandas as pd

    from rollup_engine.tsops import ewma

    vals = list(range(100, 160, 3))
    pdf = pd.DataFrame(
        {"conv_id": "k", "turn_idx": range(len(vals)), "delta_ms": vals}
    )
    got = (
        ewma(spark.createDataFrame(pdf), "delta_ms", decay=(7, 10), lags=6)
        .orderBy("turn_idx")
        .toPandas()["ewma"]
    )
    # independent reference: explicit truncated weighted mean
    r = 0.7
    for t in range(len(vals)):
        ks = range(min(t, 6) + 1)
        want = sum(r**k * vals[t - k] for k in ks) / sum(r**k for k in ks)
        assert abs(got[t] - want) <= 1e-6, (t, got[t], want)

    const = pd.DataFrame(
        {"conv_id": "c", "turn_idx": range(10), "delta_ms": [42] * 10}
    )
    gc = ewma(spark.createDataFrame(const), "delta_ms").toPandas()["ewma"]
    assert (gc == 42.0).all()


# --------------------------------------------------- round-5 operators


def test_time_weighted_avg_pinned(spark):
    """Hour bucket, conv a: v=10 held 00:00→00:30 (1800s), v=20 held
    00:30→01:00 (bucket end) → twa 15.  Conv b: single obs at 00:50,
    next obs in the NEXT hour → weight clamps to the bucket end
    (600s), twa = its own value; the 01:10 obs opens a new bucket."""
    from rollup_engine.tsops import time_weighted_avg

    rows = [
        ("a", 1, _ts("2024-01-01T00:00:00"), 10),
        ("a", 2, _ts("2024-01-01T00:30:00"), 20),
        ("b", 1, _ts("2024-01-01T00:50:00"), 40),
        ("b", 2, _ts("2024-01-01T01:10:00"), 80),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts timestamp, delta_ms long"
    )
    out = {
        (r.conv_id, r.bucket_start.isoformat()): (
            r.twa, r.obs_count, r.obs_weight_us
        )
        for r in time_weighted_avg(
            df, "delta_ms", bucket="hour", by=["conv_id"],
            order_tiebreak="turn_idx",
        ).collect()
    }
    assert out[("a", "2024-01-01T00:00:00")] == (15.0, 2, 3_600_000_000)
    assert out[("b", "2024-01-01T00:00:00")] == (40.0, 1, 600_000_000)
    # the next-hour obs holds to ITS bucket end: 50 min
    assert out[("b", "2024-01-01T01:00:00")] == (80.0, 1, 3_000_000_000)


def test_ohlc_pinned_with_ties(spark):
    """open/close resolve timestamp ties by the caller's total-order
    key (here turn_idx via the padded string), high/low are plain
    extremes."""
    from pyspark.sql import functions as F

    from rollup_engine.tsops import ohlc

    t0 = _ts("2024-01-01T00:00:10")
    rows = [
        ("a", 1, t0, 30),
        ("b", 2, t0, 10),                          # same ts as turn 1
        ("a", 3, _ts("2024-01-01T00:00:40"), 99),
        ("a", 4, _ts("2024-01-01T00:00:50"), 5),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts timestamp, delta_ms long"
    )
    key = F.format_string(
        "%020d|%s|%010d",
        F.unix_micros(F.col("ts").cast("timestamp")),
        F.col("conv_id"),
        F.col("turn_idx"),
    )
    r = ohlc(df, "delta_ms", bucket="minute", order_key=key).collect()[0]
    assert (r.open, r.high, r.low, r.close, r.n) == (30, 99, 5, 5, 4)


def test_rollup_interval_bucket_boundaries(spark):
    """Exact epoch arithmetic: 00:04:59.999999 lands in the 00:00
    bucket, 00:05:00.000000 opens 00:05 — no double-rounding flip."""
    from rollup_engine.rollup import rollup_interval

    rows = [
        ("a", 1, _ts("2024-01-01T00:04:59.999999"), 7, None),
        ("a", 2, _ts("2024-01-01T00:05:00"), 9, None),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, ts timestamp, delta_ms long,"
        " tool string",
    )
    out = {
        r.bucket_start.isoformat(): (r.tier, r.turn_count, r.lat_avg_ms)
        for r in rollup_interval(df, 300).collect()
    }
    assert out["2024-01-01T00:00:00"] == ("300s", 1, 7)
    assert out["2024-01-01T00:05:00"] == ("300s", 1, 9)


def test_series_corr_pinned(spark):
    """Perfect positive/negative coupling → ±1.0 exactly (integer
    moments make the algebra exact); zero variance → NULL."""
    from rollup_engine.tsops import series_corr

    h0, h1, h2 = (
        _ts("2024-01-01T00:00:00"),
        _ts("2024-01-01T01:00:00"),
        _ts("2024-01-01T02:00:00"),
    )

    def mins(h, pairs):
        return [
            (h + dt.timedelta(minutes=i), x, y)
            for i, (x, y) in enumerate(pairs)
        ]

    rows = (
        mins(h0, [(1, 10), (2, 20), (3, 30)])      # r = +1
        + mins(h1, [(1, 30), (2, 20), (3, 10)])    # r = -1
        + mins(h2, [(1, 5), (2, 5), (3, 5)])       # var(y)=0 -> NULL
    )
    df = spark.createDataFrame(
        rows, "bucket_start timestamp, turn_count long, lat_avg_ms long"
    )
    out = {
        r.bucket_start.isoformat(): r.corr
        for r in series_corr(
            df, "turn_count", "lat_avg_ms", bucket="hour",
            ts_col="bucket_start",
        ).collect()
    }
    assert out["2024-01-01T00:00:00"] == 1.0
    assert out["2024-01-01T01:00:00"] == -1.0
    assert out["2024-01-01T02:00:00"] is None


def test_prom_histogram_cumulative_and_dense(spark):
    """Every (bucket, le) pair is emitted — including boundaries with
    no new observations — counts are cumulative, and the +Inf row
    (int64 max) equals the bucket total."""
    from rollup_engine.tsops import PROM_INF_MS, prom_histogram

    t = _ts("2024-01-01T00:00:00")
    rows = [
        ("a", 1, t, 50),        # <= 100
        ("a", 2, t, 400),       # <= 500
        ("a", 3, t, 70_000),    # > 60000 -> +Inf only
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts timestamp, delta_ms long"
    )
    out = {
        r.le_ms: r.cum_count
        for r in prom_histogram(df, "delta_ms", bucket="minute").collect()
    }
    assert out == {
        100: 1, 500: 2, 1000: 2, 5000: 2, 10000: 2, 60000: 2,
        PROM_INF_MS: 3,
    }


def test_lttb_pinned(spark):
    """3 minute-buckets: first bucket keeps its earliest point, last
    keeps its latest, the middle keeps the point with the largest
    triangle area against the neighboring buckets' mean anchors
    (here the outlier 100, not the near-mean 12)."""
    from pyspark.sql import functions as F

    from rollup_engine.tsops import lttb_downsample

    rows = [
        ("a", 1, _ts("2024-01-01T00:00:05"), 10),
        ("a", 2, _ts("2024-01-01T00:00:40"), 12),
        ("a", 3, _ts("2024-01-01T00:01:10"), 11),
        ("a", 4, _ts("2024-01-01T00:01:30"), 100),   # big triangle
        ("a", 5, _ts("2024-01-01T00:01:50"), 12),
        ("a", 6, _ts("2024-01-01T00:02:20"), 10),
        ("a", 7, _ts("2024-01-01T00:02:45"), 11),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts timestamp, delta_ms long"
    ).withColumn("tb", F.format_string("%s|%010d", "conv_id", "turn_idx"))
    out = {
        r.bucket_start.isoformat(): (r.ts.isoformat(), r.delta_ms)
        for r in lttb_downsample(
            df, bucket="minute", value_col="delta_ms", order_tiebreak="tb"
        ).collect()
    }
    assert out["2024-01-01T00:00:00"] == ("2024-01-01T00:00:05", 10.0)
    assert out["2024-01-01T00:01:00"] == ("2024-01-01T00:01:30", 100.0)
    assert out["2024-01-01T00:02:00"] == ("2024-01-01T00:02:45", 11.0)


def test_lttb_matches_numpy_reference(spark):
    """Seeded random integral series: the selected points equal an
    independent numpy implementation of the same parallel variant
    (mean anchors, endpoint rule), and are stable under
    repartitioning."""
    import numpy as np
    from pyspark.sql import functions as F

    from rollup_engine.tsops import lttb_downsample

    rng = np.random.RandomState(11)
    base = _ts("2024-01-01T00:00:00")
    rows = []
    for i in range(400):
        ts = base + dt.timedelta(seconds=int(rng.randint(0, 3600)))
        rows.append(("c", i, ts, int(rng.randint(0, 10_000))))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts timestamp, delta_ms long"
    ).withColumn("tb", F.format_string("%s|%010d", "conv_id", "turn_idx"))
    got = {
        r.bucket_start: (r.ts, r.delta_ms)
        for r in lttb_downsample(
            df.repartition(7), bucket="minute", value_col="delta_ms",
            order_tiebreak="tb",
        ).collect()
    }

    # independent reference
    import collections

    buckets = collections.defaultdict(list)
    for cid, idx, ts, v in rows:
        b = ts.replace(second=0, microsecond=0)
        buckets[b].append((ts, v, f"{cid}|{idx:010d}"))
    bs = sorted(buckets)
    origin = dt.datetime(2020, 1, 1)

    def ms(ts):
        return int((ts - origin).total_seconds() * 1_000_000) // 1000

    want = {}
    for i, b in enumerate(bs):
        pts = buckets[b]
        if i == 0:
            want[b] = min(pts, key=lambda p: (p[0], p[2]))[:2]
            continue
        if i == len(bs) - 1:
            best = max(pts, key=lambda p: p[0])
            # ties at the same µs resolve by smallest tb among maxima
            cands = [p for p in pts if p[0] == best[0]]
            want[b] = min(cands, key=lambda p: p[2])[:2]
            continue
        prev, nxt = buckets[bs[i - 1]], buckets[bs[i + 1]]
        ax = sum(ms(p[0]) for p in prev) / len(prev)
        ay = sum(p[1] for p in prev) / len(prev)
        cx = sum(ms(p[0]) for p in nxt) / len(nxt)
        cy = sum(p[1] for p in nxt) / len(nxt)
        scored = [
            (
                -abs((ax - cx) * (p[1] - ay) - (ax - ms(p[0])) * (cy - ay)),
                p[2],
                p,
            )
            for p in pts
        ]
        want[b] = min(scored)[2][:2]
    assert set(got) == set(want)
    for b in want:
        assert got[b] == (want[b][0], float(want[b][1])), b


def test_cusum_pinned(spark):
    """CUSUM vs target 10: values 10,25,5,30 → deviations 0,15,-5,20;
    plain cumsum 0,15,10,30; running min 0 → S⁺ = 0,15,10,30.  A long
    under-run then spike resets: 10,0,0,50 → dev 0,-10,-10,40; cumsum
    0,-10,-20,20; floor min(0,run_min) = 0,-10,-20,-20 → S⁺ =
    0,0,0,40 (the clamp — evidence resets at zero, the spike counts
    from the reset, matching the textbook recurrence)."""
    from rollup_engine.tsops import cusum

    rows = [("a", i, v) for i, v in enumerate([10, 25, 5, 30])]
    rows += [("b", i, v) for i, v in enumerate([10, 0, 0, 50])]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, delta_ms long"
    )
    out = {
        (r.conv_id, r.turn_idx): (r.cusum, r.drift)
        for r in cusum(
            df, "delta_ms", target=10, threshold=20, by=["conv_id"],
            order_col="turn_idx",
        ).collect()
    }
    assert [out[("a", i)][0] for i in range(4)] == [0, 15, 10, 30]
    assert [out[("b", i)][0] for i in range(4)] == [0, 0, 0, 40]
    assert out[("a", 3)][1] is True and out[("b", 2)][1] is False


def test_cusum_equals_textbook_recurrence(spark):
    """Seeded random series: the window-identity implementation equals
    the sequential max(0, prev + dev) recurrence exactly."""
    import numpy as np

    from rollup_engine.tsops import cusum

    rng = np.random.RandomState(3)
    vals = [int(v) for v in rng.randint(0, 2000, size=500)]
    rows = [("k", i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, delta_ms long"
    )
    got = [
        r.cusum
        for r in sorted(
            cusum(df.repartition(5), "delta_ms", target=900,
                  by=["conv_id"], order_col="turn_idx").collect(),
            key=lambda r: r.turn_idx,
        )
    ]
    s, want = 0, []
    for v in vals:
        s = max(0, s + (v - 900))
        want.append(s)
    assert got == want


def test_period_over_period_missing_buckets(spark):
    """DoD joins the bucket exactly 24h earlier — a MISSING prior
    bucket yields NULL prev/ratio (a lag window would silently compare
    the wrong bucket); zero prior count yields NULL ratio."""
    from rollup_engine.tsops import period_over_period

    rows = [
        (_ts("2024-01-01T05:00:00"), 10),
        (_ts("2024-01-01T07:00:00"), 0),
        (_ts("2024-01-02T05:00:00"), 25),   # prev = 10 → ratio 2.5
        (_ts("2024-01-02T06:00:00"), 7),    # no prior bucket → NULLs
        (_ts("2024-01-02T07:00:00"), 4),    # prev = 0 → NULL ratio
    ]
    df = spark.createDataFrame(rows, "bucket_start timestamp, turn_count long")
    out = {
        r.bucket_start.isoformat(): (r.turn_count_prev, r.turn_count_ratio)
        for r in period_over_period(df, ["turn_count"], "1 day").collect()
    }
    assert out["2024-01-02T05:00:00"] == (10, 2.5)
    assert out["2024-01-02T06:00:00"] == (None, None)
    assert out["2024-01-02T07:00:00"] == (0, None)
    assert out["2024-01-01T05:00:00"] == (None, None)


def _unpartitioned_windows_without_aggregate(df) -> list[str]:
    """Same pin as tests/test_gapfill.py: any Window with an empty
    partitionSpec must sit above an Aggregate (i.e. over a bucket-
    bounded relation), never over the raw point relation."""

    def _walk(node, fn):
        fn(node)
        for i in range(node.children().length()):
            _walk(node.children().apply(i), fn)

    bad: list[str] = []

    def check(node):
        if node.getClass().getSimpleName() != "Window":
            return
        if not node.partitionSpec().isEmpty():
            return
        seen = []
        _walk(node, lambda n: seen.append(
            n.getClass().getSimpleName() == "Aggregate"
        ))
        if not any(seen):
            bad.append(node.toString()[:160])

    _walk(df._jdf.queryExecution().optimizedPlan(), check)
    return bad


def test_new_ops_no_unpartitioned_window_over_points(spark):
    """lttb (keyless: its anchor lag/lead runs over the bucket
    aggregate) and prom_histogram (cumsum partitioned per bucket) must
    never sort the point relation through one task."""
    from pyspark.sql import functions as F

    from rollup_engine.tsops import lttb_downsample, prom_histogram

    rows = [
        ("a", i, _ts("2024-01-01T00:00:00") + dt.timedelta(seconds=7 * i), (i * 37) % 1000)
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts timestamp, delta_ms long"
    ).withColumn("tb", F.format_string("%s|%010d", "conv_id", "turn_idx"))
    g = lttb_downsample(df, bucket="minute", value_col="delta_ms", order_tiebreak="tb")
    assert _unpartitioned_windows_without_aggregate(g) == []
    h = prom_histogram(df, "delta_ms", bucket="minute")
    assert _unpartitioned_windows_without_aggregate(h) == []


def test_cusum_single_exchange(spark):
    """CUSUM = one hash exchange on the key, windows only — the same
    plan shape as the delta extraction (no join, no extra shuffle)."""
    import re

    from rollup_engine.tsops import cusum

    df = spark.createDataFrame(
        [("a", 1, 10)], "conv_id string, turn_idx int, delta_ms long"
    )
    out = cusum(df, "delta_ms", target=10, by=["conv_id"], order_col="turn_idx")
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1, plan


def test_time_weighted_avg_matches_pandas(spark):
    """Seeded random irregular series: twa equals an independent pandas
    implementation (hold-to-next-obs clamped at the bucket end)."""
    import collections

    import numpy as np

    rng = np.random.RandomState(17)
    base = _ts("2024-01-01T00:00:00")
    rows = []
    for k in ("a", "b"):
        t = 0
        for i in range(300):
            t += int(rng.randint(1, 900))
            rows.append((k, i, base + dt.timedelta(seconds=t),
                         int(rng.randint(0, 5000))))
    from rollup_engine.tsops import time_weighted_avg

    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts timestamp, delta_ms long"
    )
    got = {
        (r.conv_id, r.bucket_start): (r.twa, r.obs_count, r.obs_weight_us)
        for r in time_weighted_avg(
            df, "delta_ms", bucket="hour", by=["conv_id"],
            order_tiebreak="turn_idx",
        ).collect()
    }

    # independent reference: per key, sort, weight = min(next_ts,
    # own-bucket end) - ts in µs
    per_key = collections.defaultdict(list)
    for k, i, ts, v in rows:
        per_key[k].append((ts, i, v))
    want = {}
    for k, pts in per_key.items():
        pts.sort()
        agg = collections.defaultdict(lambda: [0, 0, 0])  # vw, w, n
        for j, (ts, _i, v) in enumerate(pts):
            bucket = ts.replace(minute=0, second=0, microsecond=0)
            bucket_end = bucket + dt.timedelta(hours=1)
            nxt = pts[j + 1][0] if j + 1 < len(pts) else bucket_end
            w = int((min(nxt, bucket_end) - ts).total_seconds() * 1e6)
            a = agg[bucket]
            a[0] += v * w
            a[1] += w
            a[2] += 1
        for bucket, (vw, w, n) in agg.items():
            want[(k, bucket)] = (vw / w if w > 0 else None, n, w)
    assert set(got) == set(want)
    for key in want:
        assert got[key] == want[key], key


def test_lttb_large_bucket_no_overflow(spark):
    """20k observations in ONE bucket: the rebased-ms anchor sums stay
    inside int64 (raw epoch-µs sums overflow ANSI long around ~5k rows
    — the bound the x_origin rebase exists for)."""
    from pyspark.sql import functions as F

    from rollup_engine.tsops import lttb_downsample

    base = _ts("2024-01-01T00:00:00")
    rows = [
        ("c", i, base + dt.timedelta(minutes=i // 20000, microseconds=(i % 20000) * 2900),
         (i * 13) % 4000)
        for i in range(60000)
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts timestamp, delta_ms long"
    ).withColumn("tb", F.format_string("%s|%010d", "conv_id", "turn_idx"))
    out = lttb_downsample(
        df, bucket="minute", value_col="delta_ms", order_tiebreak="tb"
    ).collect()
    assert len(out) == 3  # one representative per minute bucket


def test_seasonal_baseline_pinned(spark):
    """Two days × two hours-of-day: seasonal mean pools the same
    hour-of-day across days; residual = bucket_avg - seasonal_avg."""
    from rollup_engine.tsops import seasonal_baseline

    rows = [
        # hod 0: day-1 values (10, 20) avg 15; day-2 value (60) avg 60
        ("a", 1, _ts("2024-01-01T00:10:00"), 10),
        ("a", 2, _ts("2024-01-01T00:20:00"), 20),
        ("a", 3, _ts("2024-01-02T00:05:00"), 60),
        # hod 5: single bucket, residual exactly 0
        ("a", 4, _ts("2024-01-01T05:00:00"), 7),
        # null measure rows are invisible (A1 count semantics)
        ("a", 5, _ts("2024-01-01T00:30:00"), None),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts timestamp, delta_ms long"
    )
    out = {
        r.bucket_start: r
        for r in seasonal_baseline(df, "delta_ms", bucket="hour").collect()
    }
    assert len(out) == 3
    b0 = out[_ts("2024-01-01T00:00:00")]
    # seasonal mean of hod 0 = (10+20+60)/3 = 30.0
    assert (b0.hod, b0.turn_count, b0.bucket_avg, b0.seasonal_avg) == (
        0, 2, 15.0, 30.0,
    )
    assert b0.residual == -15.0
    b2 = out[_ts("2024-01-02T00:00:00")]
    assert (b2.bucket_avg, b2.seasonal_avg, b2.residual) == (60.0, 30.0, 30.0)
    b5 = out[_ts("2024-01-01T05:00:00")]
    assert (b5.hod, b5.bucket_avg, b5.residual) == (5, 7.0, 0.0)


def test_seasonal_baseline_broadcasts_season(spark):
    """The 24-row seasonal relation must broadcast — the tier-sized
    side never shuffles for the join."""
    from rollup_engine.tsops import seasonal_baseline

    df = spark.createDataFrame(
        [("a", 1, _ts("2024-01-01T00:10:00"), 10)],
        "conv_id string, turn_idx int, ts timestamp, delta_ms long",
    )
    plan = seasonal_baseline(df, "delta_ms")._jdf.queryExecution().toString()
    assert "BroadcastHashJoin" in plan or "broadcast" in plan.lower()


def test_sliding_rollup_pinned(spark):
    """One observation lands in exactly length/hop = 5 hopping windows;
    overlapping windows aggregate the union of their minutes."""
    from rollup_engine.tsops import sliding_rollup

    rows = [
        ("a", 1, _ts("2024-01-01T00:10:30"), 100),
        ("a", 2, _ts("2024-01-01T00:12:30"), 300),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts timestamp, delta_ms long"
    )
    out = {
        r.bucket_start: r
        for r in sliding_rollup(
            df, "delta_ms", length="5 minutes", hop="1 minute"
        ).collect()
    }
    # first obs → windows starting 00:06..00:10; second → 00:08..00:12
    assert min(out) == _ts("2024-01-01T00:06:00")
    assert max(out) == _ts("2024-01-01T00:12:00")
    assert len(out) == 7
    solo = out[_ts("2024-01-01T00:06:00")]
    assert (solo.turn_count, solo.lat_avg_ms) == (1, 100)
    both = out[_ts("2024-01-01T00:09:00")]
    assert (both.turn_count, both.lat_min_ms, both.lat_max_ms,
            both.lat_avg_ms) == (2, 100, 300, 200)
    tail = out[_ts("2024-01-01T00:12:00")]
    assert (tail.turn_count, tail.lat_avg_ms) == (1, 300)


def test_histogram_quantile_pinned(spark):
    """Hand-checked PromQL interpolation, incl. the first-bucket
    (lower bound 0) and +Inf (highest finite le) edge rules."""
    from rollup_engine.tsops import histogram_quantile, prom_histogram

    b1 = _ts("2024-01-01T00:00:00")
    b2 = _ts("2024-01-01T00:01:00")
    b3 = _ts("2024-01-01T00:02:00")
    rows = (
        # bucket 1: 10 obs ≤100, 10 obs in (100,500]
        [("a", i, b1, 50) for i in range(10)]
        + [("a", 10 + i, b1, 200) for i in range(10)]
        # bucket 2: all 4 obs in the first bucket (interpolate from 0)
        + [("b", i, b2, 80) for i in range(4)]
        # bucket 3: 1 obs beyond the last finite boundary (+Inf rule)
        + [("c", 0, b3, 99_999_999)]
    )
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts timestamp, delta_ms long"
    )
    h = prom_histogram(df, "delta_ms", bucket="minute")
    out = {r.bucket_start: r for r in histogram_quantile(h, q=0.9).collect()}
    # bucket 1: target 18 of 20 → (18-10)/10 through (100,500]
    assert out[b1].quantile_ms == 100.0 + 400.0 * (18.0 - 10.0) / 10.0
    # bucket 2: target 3.6 of 4 → 0 + 100·(3.6/4)
    assert out[b2].quantile_ms == 100.0 * (0.9 * 4.0) / 4.0
    # bucket 3: quantile in +Inf → highest finite boundary
    assert out[b3].quantile_ms == 60000.0
    assert out[b1].turn_count == 20


def test_funnel_pinned(spark):
    """Order-sensitive funnel: out-of-order and tied steps don't count;
    step k must be strictly after step k-1."""
    from rollup_engine.tsops import funnel

    t0 = _ts("2024-01-01T00:00:00")

    def r(uid, etype, minutes):
        return (uid, etype, t0 + dt.timedelta(minutes=minutes))

    rows = [
        # u1: full funnel in order
        r(1, "view", 0), r(1, "click", 5), r(1, "purchase", 9),
        # u2: click BEFORE view → funnel stops at view
        r(2, "click", 0), r(2, "view", 5),
        # u3: click tied with view (strict > excludes) then late click
        r(3, "view", 0), r(3, "click", 0), r(3, "click", 7),
        # u4: purchase without click → stops at view
        r(4, "view", 0), r(4, "purchase", 3),
        # u5: no funnel events at all
        r(5, "error", 1),
        # u6: greedy earliest view, later click still counts
        r(6, "view", 0), r(6, "view", 10), r(6, "click", 5),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    out = {
        row.user_id: row
        for row in funnel(
            df, steps=("view", "click", "purchase"), by="user_id"
        ).collect()
    }
    assert out[1].step_reached == 3
    assert out[1].step3_ts == t0 + dt.timedelta(minutes=9)
    assert out[2].step_reached == 1  # click at t0 precedes view
    assert out[3].step_reached == 2
    assert out[3].step2_ts == t0 + dt.timedelta(minutes=7)
    assert out[4].step_reached == 1
    assert out[5].step_reached == 0
    assert out[6].step_reached == 2
    assert out[6].step2_ts == t0 + dt.timedelta(minutes=5)


def test_funnel_single_exchange(spark):
    """k chained window minima + final aggregate share ONE hash
    exchange on the key — the self-join-free funnel shape."""
    import re

    from rollup_engine.tsops import funnel

    df = spark.createDataFrame(
        [(1, "view", _ts("2024-01-01T00:00:00"))],
        "user_id long, event_type string, ts timestamp",
    )
    out = funnel(df, steps=("view", "click", "purchase"), by="user_id")
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1, plan


def test_threshold_alerts_pinned(spark):
    """Hysteresis semantics: values in [exit, enter) hold the previous
    state; only transitions emit rows."""
    from rollup_engine.tsops import threshold_alerts

    vals = [
        # (turn_idx, value) — enter=100, exit=50
        (1, 10),   # below: state 0, no edge (prev defaults 0)
        (2, 120),  # >=100: rising
        (3, 70),   # hysteresis band: holds 1, no edge
        (4, 40),   # <50: clearing
        (5, 60),   # band: holds 0, no edge
        (6, 100),  # boundary: enter is inclusive → rising
        (7, None), # null measure invisible
        (8, 49),   # clearing (exit exclusive: 49 < 50)
    ]
    df = spark.createDataFrame(
        [("a", i, v) for i, v in vals],
        "conv_id string, turn_idx int, delta_ms long",
    )
    out = threshold_alerts(
        df, "delta_ms", enter=100, exit=50, by=["conv_id"], order_col="turn_idx"
    ).collect()
    edges = [(r.turn_idx, r.state, r.direction) for r in sorted(out, key=lambda r: r.turn_idx)]
    assert edges == [
        (2, 1, "rising"),
        (4, 0, "clearing"),
        (6, 1, "rising"),
        (8, 0, "clearing"),
    ]


def test_threshold_alerts_first_row_above(spark):
    """A key whose first observation is already ≥ enter fires rising
    immediately (prev state defaults to 0)."""
    from rollup_engine.tsops import threshold_alerts

    df = spark.createDataFrame(
        [("a", 1, 500)], "conv_id string, turn_idx int, delta_ms long"
    )
    out = threshold_alerts(
        df, "delta_ms", enter=100, exit=50, by=["conv_id"], order_col="turn_idx"
    ).collect()
    assert [(r.turn_idx, r.direction) for r in out] == [(1, "rising")]


def test_threshold_alerts_single_exchange(spark):
    """Carry + edge-detect lag share one hash exchange on the key."""
    import re

    from rollup_engine.tsops import threshold_alerts

    df = spark.createDataFrame(
        [("a", 1, 500)], "conv_id string, turn_idx int, delta_ms long"
    )
    out = threshold_alerts(
        df, "delta_ms", enter=100, exit=50, by=["conv_id"], order_col="turn_idx"
    )
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1, plan


def test_uptime_islands_pinned(spark):
    """Contiguous minutes collapse; a missing minute splits islands;
    counts sum within each island."""
    from rollup_engine.tsops import uptime_islands

    rows = [
        (_ts("2024-01-01T00:00:00"), 3),
        (_ts("2024-01-01T00:01:00"), 5),
        (_ts("2024-01-01T00:02:00"), 2),
        # 00:03 missing → new island
        (_ts("2024-01-01T00:04:00"), 7),
        # big gap
        (_ts("2024-01-01T02:00:00"), 1),
    ]
    df = spark.createDataFrame(rows, "bucket_start timestamp, turn_count long")
    out = sorted(
        uptime_islands(df, bucket="minute").collect(),
        key=lambda r: r.island_start,
    )
    got = [
        (r.island_start, r.island_end, r.n_buckets, r.turn_count) for r in out
    ]
    assert got == [
        (_ts("2024-01-01T00:00:00"), _ts("2024-01-01T00:02:00"), 3, 10),
        (_ts("2024-01-01T00:04:00"), _ts("2024-01-01T00:04:00"), 1, 7),
        (_ts("2024-01-01T02:00:00"), _ts("2024-01-01T02:00:00"), 1, 1),
    ]


def test_uptime_islands_keyed(spark):
    """Per-key islands: each key gets its own runs (and its own
    partitioned window)."""
    from rollup_engine.tsops import uptime_islands

    rows = [
        ("x", _ts("2024-01-01T00:00:00"), 1),
        ("x", _ts("2024-01-01T00:01:00"), 1),
        ("y", _ts("2024-01-01T00:01:00"), 1),
    ]
    df = spark.createDataFrame(
        rows, "role string, bucket_start timestamp, turn_count long"
    )
    out = sorted(
        uptime_islands(df, bucket="minute", by=["role"]).collect(),
        key=lambda r: (r.role, r.island_start),
    )
    assert [(r.role, r.n_buckets) for r in out] == [("x", 2), ("y", 1)]


def test_xcorr_perfect_lag(spark):
    """y is x shifted 2 positions later → corr at lag 2 is exactly 1;
    other lags match a numpy reference computed on the same pairs."""
    import math

    import numpy as np

    from rollup_engine.tsops import xcorr

    x = [1, 3, 2, 5, 4, 6, 2, 8, 7, 9]
    y = [0, 0] + x[:-2]  # y(t) = x(t-2)  ⇒  y(t+2) = x(t)
    rows = [
        (dt.datetime(2024, 1, 1, 0, i), xi, yi)
        for i, (xi, yi) in enumerate(zip(x, y))
    ]
    df = spark.createDataFrame(
        rows, "bucket_start timestamp, xv long, yv long"
    )
    out = {
        r.lag: (r.corr, r.n)
        for r in xcorr(df, "xv", "yv", max_lag=3).collect()
    }
    assert out[2][0] == 1.0 and out[2][1] == 8
    for k in range(4):
        xs = np.array(x[: len(x) - k], dtype=float)
        ys = np.array(y[k:], dtype=float)
        ref = float(np.corrcoef(xs, ys)[0, 1])
        got = out[k][0]
        assert out[k][1] == len(xs)
        assert math.isclose(got, ref, rel_tol=1e-12), (k, got, ref)


def test_xcorr_keyed_and_degenerate(spark):
    """Keys keep series separate; a zero-variance series yields NULL."""
    from rollup_engine.tsops import xcorr

    rows = [
        ("a", dt.datetime(2024, 1, 1, 0, i), i, 2 * i) for i in range(5)
    ] + [
        ("b", dt.datetime(2024, 1, 1, 0, i), 7, i) for i in range(5)
    ]
    df = spark.createDataFrame(
        rows, "k string, bucket_start timestamp, xv long, yv long"
    )
    out = {
        (r.k, r.lag): r.corr
        for r in xcorr(df, "xv", "yv", max_lag=1, by=["k"]).collect()
    }
    assert out[("a", 0)] == 1.0  # y = 2x exactly
    assert out[("b", 0)] is None  # x constant → zero variance → NULL


def test_threshold_alerts_random_reference(spark):
    """Seeded random walks vs a pure-Python hysteresis state machine —
    edge positions, states, and directions must match exactly."""
    import random

    from rollup_engine.tsops import threshold_alerts

    rng = random.Random(42)
    rows = []
    expect = []
    for key in ("k0", "k1", "k2", "k3"):
        state = 0
        for i in range(200):
            v = rng.randint(0, 130) if rng.random() > 0.05 else None
            rows.append((key, i, v))
            if v is None:
                continue
            new = 1 if v >= 100 else (0 if v < 50 else state)
            if new != state:
                expect.append(
                    (key, i, new, "rising" if new else "clearing")
                )
            state = new
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, delta_ms long"
    )
    out = threshold_alerts(
        df, "delta_ms", enter=100, exit=50, by=["conv_id"], order_col="turn_idx"
    ).collect()
    got = sorted((r.conv_id, r.turn_idx, r.state, r.direction) for r in out)
    assert got == sorted(expect)


def test_rolling_quantile_random_reference(spark):
    """Seeded random series (with NULLs) vs a pure-Python nearest-rank
    reference for the rolling median AND the rolling MAD."""
    import math
    import random

    from rollup_engine.tsops import rolling_quantile

    rng = random.Random(7)
    rows = []
    for key in ("a", "b"):
        for i in range(120):
            v = rng.randint(0, 10_000) if rng.random() > 0.1 else None
            rows.append((key, i, v))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, delta_ms long"
    )
    K = 7

    def ref(vals, q):
        vals = sorted(v for v in vals if v is not None)
        if not vals:
            return None
        return vals[max(1, math.ceil(q * len(vals))) - 1]

    out = rolling_quantile(
        df, "delta_ms", q=0.5, window_rows=K, by=["conv_id"],
        order_col="turn_idx", out_col="roll_med", with_mad=True,
    ).collect()
    got = {(r.conv_id, r.turn_idx): (r.roll_med, r.roll_mad) for r in out}
    series = {}
    for key, i, v in rows:
        series.setdefault(key, []).append(v)
    for key, vals in series.items():
        for i in range(len(vals)):
            frame = vals[max(0, i - K + 1) : i + 1]
            med = ref(frame, 0.5)
            mad = (
                None
                if med is None
                else ref([abs(v - med) for v in frame if v is not None], 0.5)
            )
            assert got[(key, i)] == (med, mad), (key, i)


def test_rolling_quantile_p90_and_single_exchange(spark):
    """q=0.9 picks the ceil(0.9·n)-th sorted element; the whole op is
    one keyed exchange (window only, no join/extra shuffle)."""
    import re

    from rollup_engine.tsops import rolling_quantile

    rows = [("a", i, v) for i, v in enumerate([5, 1, 9, 3, 7])]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, delta_ms long"
    )
    out = rolling_quantile(
        df, "delta_ms", q=0.9, window_rows=5, by=["conv_id"],
        order_col="turn_idx", out_col="p90",
    )
    vals = {r.turn_idx: r.p90 for r in out.collect()}
    # frames: [5],[5,1],[5,1,9],[5,1,9,3],[5,1,9,3,7] → ceil(.9n)=1,2,3,4,5
    assert vals == {0: 5, 1: 5, 2: 9, 3: 9, 4: 9}
    # fresh plan (the collected one carries AQE's final+initial dump,
    # which lists the same exchange twice)
    fresh = rolling_quantile(
        df, "delta_ms", q=0.9, window_rows=5, by=["conv_id"],
        order_col="turn_idx", out_col="p90",
    )
    plan = fresh._sc._jvm.PythonSQLUtils.explainString(
        fresh._jdf.queryExecution(), "formatted"
    )
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1, plan


def test_cohort_retention_pinned(spark):
    """Hand-checked cohort matrix: cohorts by first active day, cells
    count distinct keys, rate = cell / cohort size."""
    from rollup_engine.tsops import cohort_retention

    rows = [
        # key a: first day 1, returns day 2 and 3
        ("a", "2024-01-01T10:00:00"), ("a", "2024-01-02T09:00:00"),
        ("a", "2024-01-03T01:00:00"), ("a", "2024-01-01T23:59:59"),
        # key b: first day 1, returns day 3 only
        ("b", "2024-01-01T00:00:00"), ("b", "2024-01-03T12:00:00"),
        # key c: first day 2, never returns
        ("c", "2024-01-02T05:00:00"),
    ]
    df = spark.createDataFrame(
        [(k, _ts(t)) for k, t in rows], "conv_id string, ts timestamp"
    )
    out = {
        (str(r.cohort_day)[:10], r.offset_days): (
            r.n_active, r.cohort_size, r.retention_rate,
        )
        for r in cohort_retention(df).collect()
    }
    assert out == {
        ("2024-01-01", 0): (2, 2, 1.0),
        ("2024-01-01", 1): (1, 2, 0.5),
        ("2024-01-01", 2): (2, 2, 1.0),
        ("2024-01-02", 0): (1, 1, 1.0),
    }


def test_concurrency_pinned_and_cross_day(spark):
    """Sweep semantics: touching intervals overlap (+1 before −1 at the
    same instant), singleton intervals spike to 1, and the chunked
    two-pass (day partials + day offsets) equals a straightforward
    global running-sum reference ACROSS day boundaries."""
    from rollup_engine.tsops import concurrency

    iv = [
        # overlapping pair within a day
        ("2024-01-01T10:00:00", "2024-01-01T11:00:00"),
        ("2024-01-01T10:30:00", "2024-01-01T12:00:00"),
        # touching: starts exactly when the previous ends → overlaps
        ("2024-01-01T12:00:00", "2024-01-01T13:00:00"),
        # crosses midnight — the day-offset carry must keep it open
        ("2024-01-01T23:00:00", "2024-01-02T01:00:00"),
        # lives entirely in day 2 while the cross-day one is open
        ("2024-01-02T00:30:00", "2024-01-02T00:45:00"),
    ]
    df = spark.createDataFrame(
        [(_ts(s), _ts(e)) for s, e in iv],
        "session_start timestamp, session_end timestamp",
    )
    out = sorted(
        ((r.ts, r.delta, r.concurrent) for r in concurrency(df).collect()),
    )
    # global reference: sort events by (ts, -delta), running sum
    events = sorted(
        [(_ts(s), 1) for s, _ in iv] + [(_ts(e), -1) for _, e in iv],
        key=lambda x: (x[0], -x[1]),
    )
    run, want = 0, []
    for ts, d in events:
        run += d
        want.append((ts, d, run))
    assert out == sorted(want)
    # spot pins: the touching start reaches 2; midnight-crossing keeps
    # day-2 concurrency at 2 while both are open
    m = {(ts, d): c for ts, d, c in out}
    assert m[(_ts("2024-01-01T12:00:00"), 1)] == 2
    assert m[(_ts("2024-01-02T00:30:00"), 1)] == 2


def test_concurrency_no_unpartitioned_window_over_events(spark):
    """The global prefix sum must never run as one unpartitioned window
    over the event relation: any unpartitioned Window in the plan sits
    above the per-day Aggregate (calendar-bounded), mirroring the
    gap-fill pin."""
    from rollup_engine.tsops import concurrency

    df = spark.createDataFrame(
        [(_ts("2024-01-01T10:00:00"), _ts("2024-01-01T11:00:00"))],
        "session_start timestamp, session_end timestamp",
    )
    out = concurrency(df)

    bad = []

    def _walk(node, fn):
        fn(node)
        it = node.children().iterator()
        while it.hasNext():
            _walk(it.next(), fn)

    def check(node):
        if node.getClass().getSimpleName() != "Window":
            return
        if not node.partitionSpec().isEmpty():
            return
        seen = []
        _walk(node, lambda n: seen.append(
            n.getClass().getSimpleName() == "Aggregate"
        ))
        if not any(seen):
            bad.append(node.toString()[:160])

    _walk(out._jdf.queryExecution().optimizedPlan(), check)
    assert bad == []


def test_changepoint_pinned(spark):
    """Step series 1,1,1,11,11,11: scores |6·S_k − 36k| are
    30,60,90,60,30 → split at k=3, means 1.0 / 11.0."""
    from rollup_engine.tsops import changepoint

    rows = [("a", i, v) for i, v in enumerate([1, 1, 1, 11, 11, 11])]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, delta_ms long"
    )
    [r] = changepoint(df, "delta_ms", by=["conv_id"], order_col="turn_idx").collect()
    assert (r.split_k, r.n, r.change_at) == (3, 6, 2)
    assert r.score == 90.0
    assert (r.mean_left, r.mean_right) == (1.0, 11.0)


def test_changepoint_tie_break_smallest_k(spark):
    """Constant series: every split scores 0 — the smallest k wins."""
    from rollup_engine.tsops import changepoint

    df = spark.createDataFrame(
        [("a", i, 5) for i in range(4)],
        "conv_id string, turn_idx int, delta_ms long",
    )
    [r] = changepoint(df, "delta_ms", by=["conv_id"], order_col="turn_idx").collect()
    assert r.split_k == 1 and r.score == 0.0


def test_changepoint_matches_bruteforce(spark):
    """Seeded multi-key series with a planted shift: the window argmax
    equals an exhaustive numpy scan of |n·S_k − k·S_n| per key."""
    import numpy as np

    from rollup_engine.tsops import changepoint

    rng = np.random.RandomState(11)
    rows, expect = [], {}
    for key in ["k0", "k1", "k2"]:
        n = int(rng.randint(5, 60))
        split = int(rng.randint(1, n))
        vals = np.concatenate(
            [rng.randint(0, 100, size=split), rng.randint(500, 600, size=n - split)]
        ).astype(np.int64)
        rows += [(key, i, int(v)) for i, v in enumerate(vals)]
        ps = np.cumsum(vals)
        ks = np.arange(1, n)
        scores = np.abs(n * ps[:-1] - ks * ps[-1])
        best = int(ks[int(np.argmax(scores))])  # argmax takes first max = smallest k
        expect[key] = (best, int(scores.max()))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, delta_ms long"
    )
    got = {
        r.conv_id: (r.split_k, int(r.score))
        for r in changepoint(
            df, "delta_ms", by=["conv_id"], order_col="turn_idx"
        ).collect()
    }
    assert got == expect


def test_changepoint_min_rows(spark):
    """A 1-row key admits no split and yields no output row."""
    from rollup_engine.tsops import changepoint

    df = spark.createDataFrame(
        [("a", 0, 7), ("b", 0, 1), ("b", 1, 9)],
        "conv_id string, turn_idx int, delta_ms long",
    )
    out = changepoint(df, "delta_ms", by=["conv_id"], order_col="turn_idx")
    assert [r.conv_id for r in out.collect()] == ["b"]


def test_changepoint_plan_single_exchange_grouplimit(spark):
    """Changepoint = ONE hash exchange on the key; the rank-1 argmax
    compiles to WindowGroupLimit so the per-key top-1 is selected
    below the final window, not after a full per-key sort spill."""
    import re

    from rollup_engine.tsops import changepoint

    df = spark.createDataFrame(
        [("a", 1, 10)], "conv_id string, turn_idx int, delta_ms long"
    )
    out = changepoint(df, "delta_ms", by=["conv_id"], order_col="turn_idx")
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1, plan
    assert "WindowGroupLimit" in plan, plan


def test_time_weighted_percentile_pinned(spark):
    """One conv, one hour: obs at :00 (v=100, holds 10 min), :10
    (v=200, holds 50 min).  Observed time W=60 min; F(100)=1/6,
    F(200)=1 → p50 and p90 both 200; p10 = 100."""
    from rollup_engine.tsops import time_weighted_percentile

    rows = [
        ("c", 0, _ts("2024-01-01T10:00:00"), 100),
        ("c", 1, _ts("2024-01-01T10:10:00"), 200),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts timestamp, delta_ms long"
    )
    [r] = time_weighted_percentile(
        df, "delta_ms", qs=(10, 50, 90), by=["conv_id"], order_tiebreak="turn_idx"
    ).collect()
    assert (r.p10_tw, r.p50_tw, r.p90_tw) == (100, 200, 200)
    assert r.obs_weight_us == 3600 * 1_000_000


def test_time_weighted_percentile_vs_count_weighted(spark):
    """A burst of 9 short-lived low readings + 1 long-held high one:
    count-p50 says low, time-p50 says high — the gauge semantics this
    operator exists for."""
    from rollup_engine.tsops import time_weighted_percentile

    rows = [
        ("c", i, _ts("2024-01-01T10:00:00") + dt.timedelta(seconds=i), 10)
        for i in range(9)
    ]
    rows.append(("c", 9, _ts("2024-01-01T10:00:09"), 500))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts timestamp, delta_ms long"
    )
    [r] = time_weighted_percentile(
        df, "delta_ms", qs=(50,), by=["conv_id"], order_tiebreak="turn_idx"
    ).collect()
    assert r.p50_tw == 500  # 9 s of 10 vs 3591 s of 500


def test_time_weighted_percentile_matches_bruteforce(spark):
    """Seeded irregular series vs a python reimplementation of the
    integer selection rule (holds clamped per bucket)."""
    import numpy as np

    from rollup_engine.tsops import time_weighted_percentile

    rng = np.random.RandomState(17)
    t0 = _ts("2024-01-01T00:00:00")
    rows, times = [], {}
    for conv in ["a", "b"]:
        t = 0
        for i in range(80):
            t += int(rng.randint(1, 900))
            rows.append((conv, i, t0 + dt.timedelta(seconds=t), int(rng.randint(1, 1000))))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts timestamp, delta_ms long"
    )
    got = {
        (r.conv_id, r.bucket_start): (r.p50_tw, r.p90_tw, r.obs_weight_us)
        for r in time_weighted_percentile(
            df, "delta_ms", qs=(50, 90), by=["conv_id"], order_tiebreak="turn_idx"
        ).collect()
    }
    # python reference
    from collections import defaultdict

    segs = defaultdict(list)
    by_conv = defaultdict(list)
    for conv, i, ts, v in rows:
        by_conv[conv].append((ts, v))
    for conv, obs in by_conv.items():
        obs.sort()
        for j, (ts, v) in enumerate(obs):
            bucket = ts.replace(minute=0, second=0, microsecond=0)
            bucket_end = bucket + dt.timedelta(hours=1)
            nxt = obs[j + 1][0] if j + 1 < len(obs) else bucket_end
            w = int((min(nxt, bucket_end) - ts).total_seconds() * 1e6)
            segs[(conv, bucket)].append((v, w))
    expect = {}
    for key, vw in segs.items():
        vw.sort()
        W = sum(w for _, w in vw)
        out = []
        for q in (50, 90):
            cum = 0
            pick = None
            i = 0
            while i < len(vw):
                v = vw[i][0]
                while i < len(vw) and vw[i][0] == v:
                    cum += vw[i][1]
                    i += 1
                if pick is None and cum * 100 >= q * W:
                    pick = v
            out.append(pick)
        expect[key] = (out[0], out[1], W)
    assert got == expect


def test_sax_words_pinned(spark):
    """4 hourly buckets per key with strictly increasing means →
    word 'abcd'; a reversed key → 'dcba'; symbol ranks are per-key."""
    import pytest
    from rollup_engine.tsops import sax_words

    rows = []
    for h, v in enumerate([1.0, 2.0, 3.0, 4.0]):
        rows.append(("up", dt.datetime(2024, 1, 1, h), v))
        rows.append(("down", dt.datetime(2024, 1, 1, h), 5.0 - v))
    df = spark.createDataFrame(rows, "k string, ts timestamp, value double")
    got = {
        r["k"]: r["word"]
        for r in sax_words(df, "value", by=["k"], bucket="hour").collect()
    }
    assert got == {"up": "abcd", "down": "dcba"}

    re = {
        r["k"]: r["word"]
        for r in sax_words(
            df.repartition(7, "value"), "value", by=["k"], bucket="hour"
        ).collect()
    }
    assert re == got

    with pytest.raises(ValueError):
        sax_words(df, "value", by=["k"], alphabet=27)


def test_burn_rate_multiwindow_fires_and_resets(spark):
    """Crafted incident: a steady low-error baseline, then a 10-minute
    full-outage burst.  The combined alert must fire only while BOTH
    the 60-min and 5-min burns exceed their thresholds — i.e. during
    the burst — and reset within the short window after it ends, even
    though the long window is still polluted."""
    import datetime as dt

    from rollup_engine.tsops import burn_rate_alerts

    rows = []
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    for m in range(120):
        ts = base + dt.timedelta(minutes=m)
        outage = 30 <= m < 40
        for i in range(10):
            tool = "error:500" if (outage or i == 0) else "ok"
            rows.append(("c", m * 10 + i, "user", "x", tool, ts))
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    out = {
        r.bucket_start.minute + 60 * r.bucket_start.hour: r
        for r in burn_rate_alerts(df).collect()
    }
    assert len(out) == 120
    # baseline 10% 5xx: short burn = 2×SLO < 6×SLO → never alerts alone
    assert not out[10].alert
    # during the outage both windows exceed (short rate 1.0, long ≥ .15
    # once a few outage minutes accumulate)
    assert out[39].alert_short and out[39].alert
    # five minutes after the outage the short window is clean again →
    # combined alert resets even though the long window still burns
    assert out[50].alert_long and not out[50].alert_short
    assert not out[50].alert


def test_burn_rate_drops_null_ts_turns(spark):
    """NULL-ts turns have no minute.  Batch burn_rate_alerts reads the
    same per-minute pre-aggregate as the stream twin (minute_errors),
    so it drops them as the stream does: the same rows as
    burn_from_minutes over minute_errors, and no NULL-minute row (an
    all-error NULL minute would alert)."""
    from rollup_engine.tsops import (
        burn_from_minutes,
        burn_rate_alerts,
        minute_errors,
    )

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        ("c", m * 4 + i, "user", "x", "error:500" if i == 0 else "ok",
         base + dt.timedelta(minutes=m, seconds=i))
        for m in range(10)
        for i in range(4)
    ]
    rows += [("c", 100 + i, "user", "x", "error:500", None) for i in range(5)]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    got = burn_rate_alerts(df).collect()
    assert all(r.bucket_start is not None for r in got)
    assert set(got) == set(burn_from_minutes(minute_errors(df)).collect())
    assert len(got) == 10
    # 1 error in 4 turns per minute (25%) burns the long window (> 15%)
    # but not the short one (≤ 30%); the NULL-ts errors add nothing
    last = max(got, key=lambda r: r.bucket_start)
    assert (last.cnt_long, last.err_long) == (40, 10)
    assert not any(r.alert for r in got)


def test_trend_from_minutes_exact_line(spark):
    """A perfectly linear series recovers its slope exactly and the
    extrapolation lands on the line; a constant series has slope 0 and
    predicts itself; a single sample yields NULL slope."""
    import datetime as dt

    from rollup_engine.tsops import trend_from_minutes

    base = dt.datetime(2024, 1, 1)
    rows = [(base + dt.timedelta(minutes=m), 100 + 7 * m) for m in range(40)]
    df = spark.createDataFrame(rows, "bucket_start timestamp, cnt long")
    out = {r.bucket_start.minute + 60 * r.bucket_start.hour: r
           for r in trend_from_minutes(df).collect()}
    assert out[0].slope_per_min is None and out[0].n_samples == 1
    assert out[35].slope_per_min == 7.0
    # value at t+10 on the line: 100 + 7*(35+10)
    assert out[35].predicted == 100 + 7 * 45
    flat = spark.createDataFrame(
        [(base + dt.timedelta(minutes=m), 42) for m in range(10)],
        "bucket_start timestamp, cnt long",
    )
    r9 = [r for r in trend_from_minutes(flat).collect()
          if r.bucket_start.minute == 9][0]
    assert r9.slope_per_min == 0.0 and r9.predicted == 42.0


def test_changes_and_resets_semantics(spark):
    """Crafted series: [5,5,7,3,3,9] → changes at ticks 2,3,5; reset
    (decrease) only at tick 3; first sample contributes nothing."""
    import datetime as dt

    from rollup_engine.tsops import changes_and_resets

    base = dt.datetime(2024, 1, 1)
    vals = [5, 5, 7, 3, 3, 9]
    df = spark.createDataFrame(
        [(base + dt.timedelta(minutes=m), v) for m, v in enumerate(vals)],
        "bucket_start timestamp, cnt long",
    )
    out = {r.bucket_start.minute: r for r in changes_and_resets(df).collect()}
    assert (out[0].n_changes, out[0].n_resets) == (0, 0)
    assert (out[2].n_changes, out[2].n_resets) == (1, 0)
    assert (out[3].n_changes, out[3].n_resets) == (2, 1)
    assert (out[5].n_changes, out[5].n_resets) == (3, 1)
