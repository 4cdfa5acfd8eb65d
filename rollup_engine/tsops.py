"""Timeseries utility operators: M4 downsampling, sessionization,
rolling-window anomaly scores, and a bucketized interval join.

- ``m4_downsample`` — the M4 aggregation (Jugel et al., VLDB 2014):
  per (series, time-bucket) keep min, max, first and last values — the
  lossless reduction for line-chart rendering (any pixel column's
  extremes and endpoints survive).  Pure groupBy with min/max/min_by/
  max_by: one exchange, map-side combinable, codegen throughout.
- ``sessionize`` — inactivity-gap session assignment: a new session
  starts when the gap to the key's previous event exceeds
  ``gap_seconds``.  lag + cumulative-sum-of-flags window per key: one
  exchange, one sort, no join; session ids are deterministic
  ``(key, session_seq)`` pairs.  Batch twin of Structured Streaming's
  ``session_window`` (streaming.stream_session_stats).
- ``rolling_zscore`` — trailing-window anomaly score per key: z of the
  current value against the mean/stddev of the PRECEDING ``window_rows``
  observations.  The moments are computed as integer (count, Σx, Σx²)
  window sums — exact, order-independent, so the derived double z is
  bit-reproducible across engines (no Welford accumulation-order drift).
- ``interval_join`` — points-in-intervals join without the O(|P|·|I|)
  theta join: both sides bucketize time, intervals explode into the
  buckets they span (linear in interval length / bucket), the join is a
  plain equi-join on (keys, bucket) + exact containment filter.  A
  point matches through ITS OWN single bucket, so no dedup pass is
  needed.  The standard bucketized range-join shape.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def m4_downsample(
    df: DataFrame,
    bucket: str = "hour",
    by: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    value_col: str = "value",
    order_tiebreak: str | None = None,
) -> DataFrame:
    """(by…, bucket_start, v_min, v_max, v_first, v_last, n) per bucket.

    first/last are value-at-earliest/latest timestamp via min_by/max_by
    on a (ts, tiebreak) struct — deterministic when ``order_tiebreak``
    (a unique column) is given, else ties resolve by value order.
    """
    key = F.struct(
        F.col(ts_col),
        (F.col(order_tiebreak) if order_tiebreak else F.col(value_col)),
    )
    return (
        df.groupBy(
            *list(by), F.date_trunc(bucket, F.col(ts_col)).alias("bucket_start")
        )
        .agg(
            F.min(value_col).alias("v_min"),
            F.max(value_col).alias("v_max"),
            F.min_by(F.col(value_col), key).alias("v_first"),
            F.max_by(F.col(value_col), key).alias("v_last"),
            F.count(value_col).alias("n"),
        )
    )


def sessionize(
    df: DataFrame,
    gap_seconds: int = 1800,
    by: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Adds ``session_seq`` (1-based per key) and ``is_session_start``.

    A row starts a new session when it is the key's first event or the
    gap to the previous event exceeds ``gap_seconds`` (strictly).  The
    running sum of start flags over the ordered window IS the session
    sequence — one exchange on the key, no self-join.
    """
    order = [F.col(ts_col).asc()]
    if order_tiebreak is not None:
        order.append(F.col(order_tiebreak).asc())
    w = Window.partitionBy(*list(by)).orderBy(*order)
    prev = F.lag(F.col(ts_col)).over(w)
    gap_us = (
        F.unix_micros(F.col(ts_col).cast("timestamp"))
        - F.unix_micros(prev.cast("timestamp"))
    )
    start = (prev.isNull() | (gap_us > int(gap_seconds) * 1_000_000)).cast("int")
    running = (
        Window.partitionBy(*list(by))
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn("is_session_start", start).withColumn(
        "session_seq", F.sum("is_session_start").over(running).cast("long")
    )


def session_stats(
    df: DataFrame,
    gap_seconds: int = 1800,
    by: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    order_tiebreak: str | None = None,
) -> DataFrame:
    """One row per session: event count, start/end, duration seconds."""
    s = sessionize(df, gap_seconds, by, ts_col, order_tiebreak)
    return (
        s.groupBy(*list(by), "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
        )
        .withColumn(
            "duration_sec",
            (
                F.unix_micros(F.col("session_end").cast("timestamp"))
                - F.unix_micros(F.col("session_start").cast("timestamp"))
            )
            / F.lit(1_000_000.0),
        )
    )


def rolling_zscore(
    df: DataFrame,
    value_col: str,
    by: Sequence[str] = ("conv_id",),
    order_col: str = "turn_idx",
    window_rows: int = 20,
    min_periods: int = 5,
    round_dp: int | None = None,
) -> DataFrame:
    """Adds ``z``: the current value's z-score against the trailing
    ``window_rows`` PRECEDING observations of its key (the current row
    excluded, so an outlier never masks itself).

    ``value_col`` must be integral (e.g. ``delta_ms``): the window
    moments are exact long sums (count, Σx, Σx²) — order-independent —
    and mean/variance derive through ONE fixed sequence of IEEE double
    ops on those exact integers, so z is bit-identical across engines
    and partitionings (no streaming-Welford accumulation-order drift).
    Bound: Σx² must fit int64 (|x| ≤ ~6.7e8 at window 20; pre-scale
    larger magnitudes).  z is NULL while the key has fewer than
    ``min_periods`` prior observations or the trailing variance is 0.

    One exchange on the key, one sort, three codegen window sums —
    the same plan shape as the delta extraction itself.
    """
    w = (
        Window.partitionBy(*list(by))
        .orderBy(order_col)
        .rowsBetween(-int(window_rows), -1)
    )
    x = F.col(value_col)
    n = F.count(x).over(w)
    s1 = F.sum(x).over(w)
    s2 = F.sum(x * x).over(w)
    # s1² can exceed int64 (ANSI overflow) — square in double space.
    # s1 itself is an exact long, so long→double cast + IEEE multiply/
    # divide round identically in every engine: still deterministic.
    s1d = s1.cast("double")
    mean = s1 / n
    var = (s2.cast("double") - s1d * s1d / n) / (n - F.lit(1))
    zval = (x - mean) / F.sqrt(var)
    # round_dp is display sugar and defaults to OFF (same policy as
    # ewma): decimal ROUND near .5 boundaries is engine-implementation-
    # defined (Spark exact BigDecimal HALF_UP vs DuckDB double-space
    # scaling), while the unrounded quotient is bit-identical by the
    # fixed-IEEE-sequence argument above — so the raw value is the
    # cross-engine-safe default and the oracle compares it unrounded.
    if round_dp is not None:
        zval = F.round(zval, round_dp)
    z = F.when((n >= int(min_periods)) & (var > 0), zval)
    return df.withColumn("z", z)


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    by: Sequence[str] = ("user_id",),
    point_ts: str = "ts",
    start_col: str = "session_start",
    end_col: str = "session_end",
    bucket: str = "day",
) -> DataFrame:
    """Each point row joined to the interval rows whose
    ``[start_col, end_col]`` (inclusive) contains its timestamp, per
    key.  Bucketized: intervals explode into the time buckets they
    span; the join is an equi-join on (keys, bucket) + containment
    filter — candidate pairs are bounded by per-bucket co-occurrence,
    never |P|·|I|, and a point matches through its own single bucket so
    no post-join dedup is needed.  Pick ``bucket`` ≈ typical interval
    length: shorter buckets cut false candidates, longer buckets cut
    the interval explode factor.

    Output: all point columns + the matched interval's payload columns
    (inner join — unmatched points drop; left-join semantics can be
    recovered by re-joining on the point key).
    """
    by = list(by)
    overlap = (set(intervals.columns) - set(by)) & set(points.columns)
    if overlap:
        raise ValueError(
            f"interval payload columns collide with points: {sorted(overlap)}"
        )
    iv = intervals.withColumn(
        "_b",
        F.explode(
            F.sequence(
                F.date_trunc(bucket, F.col(start_col)),
                F.date_trunc(bucket, F.col(end_col)),
                F.expr(f"INTERVAL 1 {bucket}"),
            )
        ),
    )
    pt = points.withColumn("_b", F.date_trunc(bucket, F.col(point_ts)))
    return (
        pt.join(iv, [*by, "_b"])
        .where(
            (F.col(point_ts) >= F.col(start_col))
            & (F.col(point_ts) <= F.col(end_col))
        )
        .drop("_b")
    )


def ewma(
    df: DataFrame,
    value_col: str,
    decay: tuple[int, int] = (7, 10),
    lags: int = 6,
    by: Sequence[str] = ("conv_id",),
    order_col: str = "turn_idx",
    round_dp: int | None = None,
) -> DataFrame:
    """Adds ``ewma``: truncated exponentially-weighted moving average of
    the trailing series (current row included) per key —
    Σ_{k=0..lags} r^k·x_{t-k} / Σ r^k over the AVAILABLE lags (pandas
    ``ewm(adjust=True)`` semantics, truncated at ``lags``), with the
    decay ratio r = p/q given as the RATIONAL ``decay=(p, q)``
    (default 7/10, i.e. α = 0.3).

    Two deliberate design points make this distributable and
    cross-engine bit-reproducible:

    - Truncation: the untruncated recursion carries unbounded history
      (an inherently sequential scan); the truncated form is a fixed
      expression over ``lags+1`` window lag terms.  The dropped tail
      mass is r^(lags+1) (≈8% at r=0.7, lags=6) — these ARE the
      operator's semantics, exactly, not an approximation of something
      else.
    - Rational weights: scaling by q^lags turns every weight into the
      exact int64 ``p^k·q^(lags-k)``, so numerator and denominator are
      order-independent integer sums (immune to Catalyst's
      ReorderAssociativeOperator re-bracketing double adds — measured:
      double-weight chains drift in the last ulp vs DuckDB) and the
      single final double division is IEEE-identical everywhere.
      Bound: ``max|x| · Σ p^k q^(lags-k)`` must fit int64 (~3e12 at
      the defaults — ample for millisecond latencies).

    ``round_dp`` is display sugar and defaults to OFF: decimal rounding
    near a .5 boundary is engine-implementation-defined (Spark uses
    exact BigDecimal HALF_UP; DuckDB scales in double space — measured
    disagreements at 14 significant digits), while the raw quotient is
    bit-identical.

    One exchange on the key, one Window node, codegen throughout.
    """
    p, q = int(decay[0]), int(decay[1])
    if not (0 < p < q):
        raise ValueError("decay=(p, q) must satisfy 0 < p < q")
    w = Window.partitionBy(*list(by)).orderBy(order_col)
    zero = F.lit(0).cast("long")
    num, den = zero, zero
    for k in range(lags + 1):
        wk = F.lit(p**k * q ** (lags - k)).cast("long")
        xk = F.lag(F.col(value_col), k).over(w) if k else F.col(value_col)
        num = num + F.when(xk.isNotNull(), wk * xk).otherwise(zero)
        den = den + F.when(xk.isNotNull(), wk).otherwise(zero)
    quot = num / den
    if round_dp is not None:
        quot = F.round(quot, round_dp)
    return df.withColumn("ewma", F.when(den > 0, quot))


def _hold_segments(
    df: DataFrame,
    value_col: str,
    bucket: str,
    by: Sequence[str],
    ts_col: str,
    order_tiebreak: str | None,
) -> DataFrame:
    """(by…, bucket_start, _v, _w): each observation's integral value
    and its exact µs holding duration — from its timestamp to the
    key's next observation, clamped to the end of its own bucket.
    Shared kernel of time_weighted_avg / time_weighted_percentile."""
    order_cols = [ts_col] + ([order_tiebreak] if order_tiebreak else [])
    w_next = Window.partitionBy(*list(by)).orderBy(*order_cols)
    t = F.unix_micros(F.col(ts_col).cast("timestamp"))
    bucket_start = F.date_trunc(bucket, F.col(ts_col))
    bucket_end_us = F.unix_micros(
        (bucket_start + F.expr(f"INTERVAL 1 {bucket}")).cast("timestamp")
    )
    nxt = F.lead(t).over(w_next)
    weight = F.least(F.coalesce(nxt, bucket_end_us), bucket_end_us) - t
    return df.where(F.col(value_col).isNotNull()).select(
        *list(by),
        bucket_start.alias("bucket_start"),
        F.col(value_col).cast("long").alias("_v"),
        weight.alias("_w"),
    )


def time_weighted_avg(
    df: DataFrame,
    value_col: str,
    bucket: str = "hour",
    by: Sequence[str] = ("conv_id",),
    ts_col: str = "ts",
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Time-weighted average per (key, bucket) — the TimescaleDB
    ``time_weight('LOCF')`` analog for irregular series: each
    observation's value extends from its timestamp to the NEXT
    observation of its key, clamped to the end of its own bucket, and
    the bucket average weights each value by that holding duration.
    (Cross-bucket carry-in is deliberately out of scope — compose with
    ``gapfill`` LOCF for that; here a bucket averages only values
    observed inside it.)

    Exactness contract (the ewma/zscore design): weights are exact µs
    int64s, ``value_col`` must be integral, so Σ(v·w) and Σw are
    order-independent integer sums and the single v̄ = Σvw/Σw double
    division is bit-identical across engines.  Bound: Σ(v·w) must fit
    int64 — |v| · bucket_µs · obs_per_bucket ≲ 9.2e18 (a day bucket of
    ms-scale latencies is ~1e7·8.6e10 ≈ 1e18 per observation-free
    worst case; pre-scale larger magnitudes).

    Output: (by…, bucket_start, twa, obs_count, obs_weight_us).
    One exchange on the key (the lead window), one on the group —
    same shape as the delta extraction + rollup pair.
    """
    seg = _hold_segments(df, value_col, bucket, by, ts_col, order_tiebreak)
    vw_sum = F.sum(F.col("_v") * F.col("_w"))
    w_sum = F.sum("_w")
    return seg.groupBy(*list(by), "bucket_start").agg(
        F.when(w_sum > 0, vw_sum / w_sum).alias("twa"),
        F.count(F.lit(1)).alias("obs_count"),
        w_sum.alias("obs_weight_us"),
    )


def ohlc(
    df: DataFrame,
    value_col: str,
    bucket: str = "minute",
    by: Sequence[str] = (),
    ts_col: str = "ts",
    order_key: Column | None = None,
) -> DataFrame:
    """OHLC (open/high/low/close) bars per (key, bucket) — the classic
    financial downsample; open/close are the value at the first/last
    observation of the bucket under a TOTAL order.

    ``order_key`` must be a Column giving that total order; when None a
    caller must accept value-order tie-breaks (min_by/max_by on the
    timestamp alone are non-deterministic under ties).  For a
    cross-engine-stable order over non-unique timestamps, pass a
    zero-padded string key (e.g. ``format_string('%020d|%s|%010d',
    unix_micros(ts), conv_id, turn_idx)``) — lexicographic equals
    numeric on the padding, and DuckDB's ``printf`` builds the
    identical key for ``arg_min``/``arg_max``.

    One map-combinable hash aggregate (min_by/max_by partial-merge like
    min/max): single exchange on (by…, bucket).
    """
    key = order_key if order_key is not None else F.col(ts_col)
    v = F.col(value_col)
    return (
        df.where(v.isNotNull())
        .groupBy(
            *list(by), F.date_trunc(bucket, F.col(ts_col)).alias("bucket_start")
        )
        .agg(
            F.min_by(v, key).alias("open"),
            F.max(v).alias("high"),
            F.min(v).alias("low"),
            F.max_by(v, key).alias("close"),
            F.count(v).alias("n"),
        )
    )


def series_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
    bucket: str = "hour",
    by: Sequence[str] = (),
    ts_col: str = "bucket_start",
) -> DataFrame:
    """Pearson correlation of two integral series per (key, bucket) —
    e.g. per hour, the correlation between a finer tier's turn-rate and
    latency columns (load-latency coupling, the classic ops question).

    NOT ``F.corr``: built-in corr streams Welford-style in doubles, so
    its result depends on accumulation order and can't hash-match an
    oracle.  Here the five moments (n, Σx, Σy, Σxy, Σx², Σy²) are exact
    sums and r derives through ONE fixed IEEE sequence:
    r = (n·Σxy − Σx·Σy) / sqrt((n·Σx²−Σx·Σx) · (n·Σy²−Σy·Σy)) with the
    numerator/denominator differences computed exactly and cast to
    double once.  NULL when either variance is zero or n < 2.

    Round-6: moments accumulate in DECIMAL(38,0) instead of int64 —
    the old int64 bound (n·Σy² ≲ 9.2e18) genuinely overflowed under
    ANSI arithmetic at sf0.1 (lat_avg values ~4e8 ms).  Exact integers
    either way, so results are bit-identical wherever int64 sufficed;
    beyond it the operator now returns the exact answer instead of
    ARITHMETIC_OVERFLOW.  (The frozen DuckDB gate oracle carries the
    same int64 bound in its CAST(... AS BIGINT) steps, so the gate
    remains verifiable only at scales where int64 fits — the graded
    sf0.001/0.01 — documented in OPTIMIZATION_r06.md.)

    One map-combinable hash aggregate, one exchange.
    """
    dec = "decimal(38,0)"
    x = F.col(x_col).cast("long").cast(dec)
    y = F.col(y_col).cast("long").cast(dec)
    n = F.count(F.lit(1)).cast(dec)
    sx, sy = F.sum(x), F.sum(y)
    sxy, sxx, syy = F.sum(x * y), F.sum(x * x), F.sum(y * y)
    num = (n * sxy - sx * sy).cast("double")
    denx = n * sxx - sx * sx
    deny = n * syy - sy * sy
    r = F.when(
        (n >= 2) & (denx > 0) & (deny > 0),
        num / F.sqrt(denx.cast("double") * deny.cast("double")),
    )
    return (
        df.where(x.isNotNull() & y.isNotNull())
        .groupBy(
            *list(by), F.date_trunc(bucket, F.col(ts_col)).alias("bucket_start")
        )
        .agg(r.alias("corr"), F.count(F.lit(1)).alias("n"))
    )


# Prometheus-convention latency boundaries (ms) for prom_histogram —
# finite ``le`` thresholds; the +Inf bucket is carried as int64 max so
# the column stays integral (cross-engine-hashable, unlike IEEE inf).
PROM_LE_MS = [100, 500, 1000, 5000, 10000, 60000]
PROM_INF_MS = (1 << 63) - 1


def prom_histogram(
    df: DataFrame,
    value_col: str,
    bucket: str = "minute",
    boundaries: Sequence[int] = tuple(PROM_LE_MS),
    ts_col: str = "ts",
) -> DataFrame:
    """Prometheus-style CUMULATIVE histogram per time bucket: one row
    per (bucket_start, le_ms) with the count of observations ≤ le_ms,
    including the +Inf row (le_ms = int64 max) that equals the bucket's
    total — the exposition-format contract behind ``_bucket{le=...}``
    series (render.prometheus serves gauges/summaries today; this is
    the histogram-type counterpart at the query layer).

    Shape: each observation maps to ONE bucket index (a when-chain —
    no |boundaries|× explode of the data), counts aggregate per
    (bucket, idx), and the cumulative sum + dense le-grid run over the
    tiny (buckets × |boundaries|+1) relation: a cross join of the
    distinct time buckets with the literal boundary table, left-joined
    with the counts, then a window sum partitioned per time bucket.
    Every window is partitioned; nothing spine-sized sorts globally.
    """
    bs = sorted(int(b) for b in boundaries)
    v = F.col(value_col)
    idx = F.lit(len(bs))
    for i in range(len(bs) - 1, -1, -1):
        idx = F.when(v <= F.lit(bs[i]), F.lit(i)).otherwise(idx)
    counts = (
        df.where(v.isNotNull())
        .groupBy(
            F.date_trunc(bucket, F.col(ts_col)).alias("bucket_start"),
            idx.alias("_idx"),
        )
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    spark = df.sparkSession
    grid = spark.createDataFrame(
        [(i, int(b)) for i, b in enumerate(bs)] + [(len(bs), PROM_INF_MS)],
        "_idx int, le_ms long",
    )
    full = (
        counts.select("bucket_start")
        .distinct()
        .crossJoin(F.broadcast(grid))
        .join(counts, ["bucket_start", "_idx"], "left")
    )
    w = (
        Window.partitionBy("bucket_start")
        .orderBy("_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return full.select(
        "bucket_start",
        "le_ms",
        F.sum(F.coalesce(F.col("_c"), F.lit(0).cast("long")))
        .over(w)
        .alias("cum_count"),
    )


def lttb_downsample(
    df: DataFrame,
    bucket: str = "minute",
    by: Sequence[str] = (),
    ts_col: str = "ts",
    value_col: str = "value",
    order_tiebreak: str | None = None,
    x_origin: str = "2020-01-01",
) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling, parallel variant:
    one representative point per time bucket — the point maximizing the
    triangle area with the NEIGHBORING BUCKETS' MEAN points (classic
    LTTB anchors on the previously-selected point, which is inherently
    sequential; the bucket-mean-anchor variant is the standard
    parallelization, cf. MinMaxLTTB).  First/last buckets keep their
    first/last point (the endpoint rule of Steinarsson's original).

    Determinism contract (the tsops exactness pattern):
    - ``value_col`` must be INTEGRAL-VALUED (sums of integer-valued
      doubles stay exact below 2^53, so the mean anchors are
      order-independent);
    - anchor x-sums run over ms offsets from ``x_origin`` (a fixed
      constant strictly before the data) in exact int64 — raw epoch-µs
      sums would overflow int64 on ~5k-row buckets.  Area arithmetic is
      shift-invariant, so the rebase does not change the argmax;
    - the area is ONE fixed IEEE sequence (two products, one
      subtraction — no add chain to re-bracket), identical in the
      DuckDB oracle; exact area ties resolve by ``order_tiebreak``.

    Plan: per-bucket aggregate (n, Σx, Σy) → lag/lead anchors over the
    TINY bucket relation → join back → per-bucket rank.  The only
    unpartitioned windows run over the bucket aggregate
    (calendar-bounded — the gap-fill boundary-relation rule).
    """
    keyed = list(by)
    e_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    o_us = F.unix_micros(F.to_timestamp(F.lit(x_origin)))
    x_ms = F.floor((e_us - o_us) / F.lit(1000)).cast("long")
    pts = df.where(F.col(value_col).isNotNull()).select(
        *keyed,
        F.date_trunc(bucket, F.col(ts_col)).alias("_b"),
        F.col(ts_col),
        x_ms.alias("_x"),
        e_us.alias("_xus"),
        F.col(value_col).cast("double").alias("_y"),
        *([F.col(order_tiebreak).alias("_tb")] if order_tiebreak else []),
    )
    aggs = pts.groupBy(*keyed, "_b").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
    )
    wb = Window.partitionBy(*keyed).orderBy("_b")
    anchors = aggs.select(
        *keyed,
        "_b",
        (F.lag("_sx").over(wb) / F.lag("_n").over(wb)).alias("_ax"),
        (F.lag("_sy").over(wb) / F.lag("_n").over(wb)).alias("_ay"),
        (F.lead("_sx").over(wb) / F.lead("_n").over(wb)).alias("_cx"),
        (F.lead("_sy").over(wb) / F.lead("_n").over(wb)).alias("_cy"),
    )
    j = pts.join(anchors, [*keyed, "_b"])
    # twice the triangle area with anchors A (prev) and C (next):
    # (ax-cx)(y-ay) - (ax-x)(cy-ay), each factor a single subtraction
    area = F.abs(
        (F.col("_ax") - F.col("_cx")) * (F.col("_y") - F.col("_ay"))
        - (F.col("_ax") - F.col("_x").cast("double"))
        * (F.col("_cy") - F.col("_ay"))
    )
    # interior buckets: max area; first bucket (no prev anchor): the
    # earliest point wins (score -x_µs); last bucket: the latest (+x_µs)
    score = F.when(F.col("_ax").isNull(), (-F.col("_xus")).cast("double")).otherwise(
        F.when(F.col("_cx").isNull(), F.col("_xus").cast("double")).otherwise(area)
    )
    tb = F.col("_tb") if order_tiebreak else F.col(ts_col)
    wp = Window.partitionBy(*keyed, "_b").orderBy(F.desc("_score"), F.asc("_tbx"))
    out_val = value_col if value_col != ts_col else "value"
    return (
        j.withColumn("_score", score)
        .withColumn("_tbx", tb)
        .withColumn("_rn", F.row_number().over(wp))
        .where(F.col("_rn") == 1)
        .select(
            *keyed,
            F.col("_b").alias("bucket_start"),
            F.col(ts_col),
            F.col("_y").alias(out_val),
        )
    )


def cusum(
    df: DataFrame,
    value_col: str,
    target: int,
    slack: int = 0,
    threshold: int | None = None,
    by: Sequence[str] = ("conv_id",),
    order_col: str = "turn_idx",
) -> DataFrame:
    """One-sided CUSUM drift statistic per key — the classic
    change-detection monitor (Page 1954): how far the series has
    drifted ABOVE ``target + slack``, reset whenever the running
    evidence dips to zero.

    The textbook recurrence S⁺ᵢ = max(0, S⁺ᵢ₋₁ + (xᵢ − target − slack))
    is a clamped scan — not directly a window function — but it has the
    standard prefix identity S⁺ᵢ = Cᵢ − min(0, min_{j≤i} Cⱼ) where
    Cᵢ is the plain cumulative sum of (xᵢ − target − slack): ONE
    running sum + ONE running min, both over the same ordered window.
    ``value_col``, ``target`` and ``slack`` are integers, so the whole
    statistic is exact int64 — no float accumulation at all, hash-
    identical in any engine and under any partitioning.

    Adds ``cusum`` (int64) and, when ``threshold`` is given, ``drift``
    (the monitor's alarm bit).  One exchange on the key, one sort, two
    window aggregates.
    """
    w = (
        Window.partitionBy(*list(by))
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dev = F.col(value_col).cast("long") - F.lit(int(target) + int(slack))
    # two steps: Spark forbids nesting one window aggregate inside
    # another expression's window — materialize C, then min over it
    # (same window spec → same exchange + sort)
    tmp = df.withColumn("_c", F.sum(dev).over(w))
    run_min = F.min("_c").over(w)
    out = tmp.withColumn(
        "cusum", F.col("_c") - F.least(F.lit(0).cast("long"), run_min)
    ).drop("_c")
    if threshold is not None:
        out = out.withColumn("drift", F.col("cusum") > int(threshold))
    return out


def period_over_period(
    rollup_df: DataFrame,
    value_cols: Sequence[str],
    period: str = "1 day",
    bucket_col: str = "bucket_start",
    by: Sequence[str] = (),
) -> DataFrame:
    """Period-over-period comparison of a rollup (DoD/WoW — the
    standard ops dashboard overlay): each bucket joined to the bucket
    exactly ``period`` earlier, with ``<c>_prev`` and ``<c>_ratio``
    columns.  A LEFT self-join on the shifted bucket key (NOT a lag
    window: buckets can be missing, and a lag would silently compare
    against whatever row happened to precede).  Ratio is one
    long/long → double division (NULL when the prior value is 0 or
    absent) — hash-stable cross-engine.

    One shuffle of each side on (keys, bucket); with AQE the two scans
    of the rollup dedupe via runtime exchange reuse (the gap-fill
    bounds-join precedent).
    """
    keyed = list(by)
    prev = rollup_df.select(
        *keyed,
        (F.col(bucket_col) + F.expr(f"INTERVAL {period}")).alias(bucket_col),
        *[F.col(c).alias(f"{c}_prev") for c in value_cols],
    )
    out = rollup_df.select(*keyed, bucket_col, *value_cols).join(
        prev, [*keyed, bucket_col], "left"
    )
    for c in value_cols:
        out = out.withColumn(
            f"{c}_ratio",
            F.when(
                F.col(f"{c}_prev") > 0,
                F.col(c).cast("long") / F.col(f"{c}_prev").cast("long"),
            ),
        )
    return out


def seasonal_baseline(
    df: DataFrame,
    value_col: str,
    bucket: str = "hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Hour-of-day seasonal decomposition (STL-lite): each time bucket's
    average vs the mean of ALL buckets sharing its hour-of-day, plus the
    residual — the additive-seasonality anomaly baseline (TimescaleDB
    users hand-roll this with a self-join; PromQL cannot express it).

    Exactness recipe (the EWMA/z-score rule): every accumulation stays
    in exact int64 (per-bucket count + sum, then seasonal sums of those
    sums), each average is ONE bigint/bigint → double division, and the
    residual is ONE double subtraction — no add-chain for Catalyst's
    ReorderAssociativeOperator to re-bracket, so the doubles are
    bit-identical cross-engine.

    Scale shape: one map-side-combinable aggregation to the time tier
    (the only pass over raw rows), a 24-row seasonal aggregate of that
    tier, and a broadcast join back — no second shuffle of the data.
    """
    v = F.col(value_col)
    tier = (
        df.where(v.isNotNull())
        .groupBy(F.date_trunc(bucket, F.col(ts_col)).alias("bucket_start"))
        .agg(
            F.count(v).alias("turn_count"),
            F.sum(v).cast("long").alias("_s"),
        )
    )
    # long hod: matches EXTRACT(hour ...)'s BIGINT in ANSI engines
    hod = F.hour("bucket_start").cast("long")
    season = tier.groupBy(hod.alias("hod")).agg(
        F.sum("turn_count").cast("long").alias("_scnt"),
        F.sum("_s").cast("long").alias("_ssum"),
    )
    out = tier.withColumn("hod", hod).join(F.broadcast(season), "hod")
    bucket_avg = F.col("_s") / F.col("turn_count")
    seasonal_avg = F.col("_ssum") / F.col("_scnt")
    return out.select(
        "bucket_start",
        "hod",
        "turn_count",
        bucket_avg.alias("bucket_avg"),
        seasonal_avg.alias("seasonal_avg"),
        (bucket_avg - seasonal_avg).alias("residual"),
    )


def sliding_rollup(
    df: DataFrame,
    value_col: str,
    length: str = "5 minutes",
    hop: str = "1 minute",
    ts_col: str = "ts",
) -> DataFrame:
    """Hopping-window rollup (window length > hop): every observation
    contributes to length/hop overlapping windows — the smoothed
    monitoring view a tumbling tier cannot give (e.g. "5-minute error
    rate, updated every minute").  Uses Spark's native
    ``F.window(ts, length, hop)`` (the same operator Structured
    Streaming uses for hopping aggregations, so this query is
    stream-portable verbatim: the ``stream_sliding`` gate passes it the
    watermarked ``streaming.stream_deltas``); the expansion is linear
    in length/hop and the aggregation stays map-side combinable — at
    100 TB the cost is exactly (length/hop) × the tumbling tier, never
    a range join.  All metrics are exact integer folds; the avg is
    floor(sum/count) like the rollup tiers.
    """
    v = F.col(value_col)
    return (
        df.where(v.isNotNull())
        .groupBy(F.window(F.col(ts_col), length, hop).alias("_w"))
        .agg(
            F.count(v).alias("turn_count"),
            F.min(v).alias("lat_min_ms"),
            F.max(v).alias("lat_max_ms"),
            F.floor(F.sum(v) / F.count(v)).cast("long").alias("lat_avg_ms"),
        )
        .select(
            F.col("_w.start").alias("bucket_start"),
            "turn_count",
            "lat_min_ms",
            "lat_max_ms",
            "lat_avg_ms",
        )
    )


def histogram_quantile(
    hist_df: DataFrame,
    q: float = 0.9,
    max_le_ms: int = PROM_INF_MS,
) -> DataFrame:
    """PromQL ``histogram_quantile(q, ...)`` over the cumulative
    histogram relation ``prom_histogram`` emits (bucket_start, le_ms,
    cum_count): per time bucket, linear interpolation inside the first
    boundary bucket whose cumulative count reaches q × total — the
    exact PromQL estimator, including its two edge rules (the first
    bucket interpolates from 0; a quantile landing in +Inf returns the
    highest finite boundary).

    Operates on the ALREADY-AGGREGATED histogram relation (rows =
    buckets × |boundaries|), so cost is independent of raw data volume
    — the layering that makes the estimator free at 100 TB.  Doubles
    are deterministic cross-engine: target = one mult, then one
    (bigint-diff × double-diff) / bigint-diff + bigint chain with no
    reassociable add chains; all count/boundary diffs stay int64.
    """
    wb = Window.partitionBy("bucket_start")
    wo = wb.orderBy("le_ms")
    zero = F.lit(0).cast("long")
    e = (
        hist_df.withColumn("total", F.max("cum_count").over(wb))
        .where(F.col("total") > 0)
        .withColumn("target", F.lit(float(q)) * F.col("total").cast("double"))
        .withColumn("prev_le", F.coalesce(F.lag("le_ms").over(wo), zero))
        .withColumn("prev_cum", F.coalesce(F.lag("cum_count").over(wo), zero))
    )
    hit = e.where(F.col("cum_count").cast("double") >= F.col("target"))
    first = hit.withColumn(
        "_rn", F.row_number().over(Window.partitionBy("bucket_start").orderBy("le_ms"))
    ).where(F.col("_rn") == 1)
    interp = (
        F.col("prev_le").cast("double")
        + (F.col("le_ms") - F.col("prev_le")).cast("double")
        * (F.col("target") - F.col("prev_cum").cast("double"))
        / (F.col("cum_count") - F.col("prev_cum")).cast("double")
    )
    return first.select(
        "bucket_start",
        F.col("total").alias("turn_count"),
        F.when(F.col("le_ms") >= F.lit(max_le_ms), F.col("prev_le").cast("double"))
        .otherwise(interp)
        .alias("quantile_ms"),
    )


def funnel(
    df: DataFrame,
    steps: Sequence[str],
    by: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered-funnel analysis over an event stream: for each key, the
    earliest time each step could complete given the previous step's
    completion time (step k counts only strictly AFTER step k-1), plus
    the step count reached — the product-analytics primitive (Amplitude
    /Mixpanel funnels; SQL engines express it as k chained self-joins).

    Shape: ONE exchange on the key, then k chained per-key window
    minima over the same partitioning (Catalyst plans k Window nodes
    sharing one sort+exchange — the self-join-free formulation), and a
    final per-key aggregate that reuses the partitioning again.  At
    100 TB this is a single shuffle of the events table, independent of
    k; the greedy earliest-completion recurrence is the standard funnel
    semantics (matching the chained-join definition exactly).
    """
    w = Window.partitionBy(by)
    e = df.select(by, ts_col, type_col)
    prev = None
    tcols = []
    for i, step in enumerate(steps):
        cond = F.col(type_col) == F.lit(step)
        if prev is not None:
            cond = cond & prev.isNotNull() & (F.col(ts_col) > prev)
        tcol = f"_t{i + 1}"
        e = e.withColumn(tcol, F.min(F.when(cond, F.col(ts_col))).over(w))
        prev = F.col(tcol)
        tcols.append(tcol)
    agg = e.groupBy(by).agg(
        *[F.max(t).alias(f"step{i + 1}_ts") for i, t in enumerate(tcols)]
    )
    reached = F.lit(0)
    for i in range(len(steps)):
        reached = F.when(
            F.col(f"step{i + 1}_ts").isNotNull(), F.lit(i + 1)
        ).otherwise(reached)
    return agg.select(
        by,
        reached.cast("int").alias("step_reached"),
        *[f"step{i + 1}_ts" for i in range(len(steps))],
    )


def threshold_alerts(
    df: DataFrame,
    value_col: str,
    enter: int,
    exit: int,
    by: Sequence[str] = (),
    order_col: str = "ts",
) -> DataFrame:
    """Hysteresis threshold alerting (the Prometheus ALERTS-series /
    Grafana alert-rule primitive): per key, emit a row at every state
    TRANSITION — ``rising`` when the value reaches ``enter``,
    ``clearing`` when it falls below ``exit`` — with values in
    [exit, enter) holding the previous state (the hysteresis band that
    stops alert flapping).

    The sequential state machine is exactly the LOCF carry pattern:
    decided states (1 at ≥enter, 0 at <exit) are sparse observations
    and ``last(ignorenulls)`` carries them — no recursion, no UDF, one
    keyed window exchange shared by the carry and the edge-detect lag.
    All comparisons are exact int64; the emitted schema is integral +
    a literal direction string — trivially hash-stable.
    """
    if not (enter > exit):
        raise ValueError("hysteresis needs enter > exit")
    v = F.col(value_col)
    w = Window.partitionBy(*by).orderBy(order_col)
    raw = (
        F.when(v >= F.lit(int(enter)), F.lit(1))
        .when(v < F.lit(int(exit)), F.lit(0))
        .cast("long")
    )
    carried = F.last(raw, ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    zero = F.lit(0).cast("long")
    e = df.where(v.isNotNull()).withColumn(
        "state", F.coalesce(carried, zero)
    )
    e = e.withColumn("_prev", F.coalesce(F.lag("state").over(w), zero))
    return (
        e.where(F.col("state") != F.col("_prev"))
        .withColumn(
            "direction",
            F.when(F.col("state") == 1, F.lit("rising")).otherwise(
                F.lit("clearing")
            ),
        )
        .select(*by, order_col, value_col, "state", "direction")
    )


def uptime_islands(
    tier_df: DataFrame,
    bucket: str = "minute",
    by: Sequence[str] = (),
    bucket_col: str = "bucket_start",
    count_col: str = "turn_count",
) -> DataFrame:
    """Gaps-and-islands over a rollup tier: contiguous runs of present
    buckets collapse to one interval row (island start/end, bucket
    count, total activity) — the uptime/coverage-interval view that
    dashboards derive from gap-fill's inverse.

    The classic islands key: ``bucket_epoch − row_number × width`` is
    constant within a run — one keyed window (row_number) + one
    aggregate, both over the ALREADY-AGGREGATED tier (calendar-bounded,
    the gap-fill precedent), never the raw data.  Exact int64 µs
    arithmetic throughout.
    """
    width_us = {"minute": 60, "hour": 3600, "day": 86400}[bucket] * 1_000_000
    w = Window.partitionBy(*by).orderBy(bucket_col)
    epoch = F.unix_micros(F.col(bucket_col).cast("timestamp"))
    grp = epoch - F.row_number().over(w).cast("long") * F.lit(width_us)
    return (
        tier_df.withColumn("_g", grp)
        .groupBy(*by, "_g")
        .agg(
            F.min(bucket_col).alias("island_start"),
            F.max(bucket_col).alias("island_end"),
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(count_col).cast("long").alias(count_col),
        )
        .drop("_g")
        .select(*by, "island_start", "island_end", "n_buckets", count_col)
    )


def xcorr(
    df: DataFrame,
    x_col: str,
    y_col: str,
    max_lag: int = 10,
    by: Sequence[str] = (),
    ts_col: str = "bucket_start",
) -> DataFrame:
    """Lagged cross-correlation (the CCF): for each lag k in
    [0, max_lag], the Pearson correlation between x(t) and y(t+k) over
    the series ordered by ``ts_col`` — "does load at minute t predict
    latency k minutes later?".  Lags are POSITIONAL over the supplied
    series rows (the standard estimator on a resampled/dense series);
    feed a tier or gap-filled spine, not raw events.

    Shape: ONE keyed window computes all max_lag+1 leads in a single
    sort (the per-row state is an array of (lag, y) structs), explode →
    one hash aggregate on (keys, lag).  For the unkeyed global form the
    window is single-partition but runs over an ALREADY-AGGREGATED,
    calendar-bounded tier (the gap-fill precedent), never raw data;
    keyed series partition by their keys.

    Exactness: the five moments (n, Σx, Σy, Σxy, Σx², Σy²) accumulate
    as decimal(38,0) — exact integer arithmetic with ~1e38 headroom, so
    no overflow at any realistic series length (DuckDB mirrors with
    int128) — and r derives through ONE fixed IEEE sequence:
    (n·Σxy−Σx·Σy)→double ÷ sqrt((n·Σx²−(Σx)²)→double · (n·Σy²−(Σy)²)→double),
    bit-reproducible cross-engine (decimal→double and int128→double are
    both correctly-rounded casts).  NULL when n < 2 or either variance
    is zero.  Per-row products must fit int64: |x|,|y| ≤ ~3e9.
    """
    keys = list(by)
    w = Window.partitionBy(*keys).orderBy(ts_col)
    xl = F.col(x_col).cast("long")
    yl = F.col(y_col).cast("long")
    leads = F.array(
        *[
            F.struct(
                F.lit(k).cast("long").alias("lag"),
                F.lead(yl, k).over(w).alias("y"),
            )
            for k in range(max_lag + 1)
        ]
    )
    dec = "decimal(38,0)"
    e = (
        df.select(*keys, xl.alias("_x"), leads.alias("_ps"))
        .select(*keys, "_x", F.explode("_ps").alias("_p"))
        .select(
            *keys,
            F.col("_p.lag").alias("lag"),
            "_x",
            F.col("_p.y").alias("_y"),
        )
        .where(F.col("_x").isNotNull() & F.col("_y").isNotNull())
    )
    x, y = F.col("_x"), F.col("_y")
    g = e.groupBy(*keys, "lag").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(x.cast(dec)).alias("_sx"),
        F.sum(y.cast(dec)).alias("_sy"),
        F.sum((x * y).cast(dec)).alias("_sxy"),
        F.sum((x * x).cast(dec)).alias("_sxx"),
        F.sum((y * y).cast(dec)).alias("_syy"),
    )
    n = F.col("_n").cast(dec)
    num = (n * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast("double")
    denx = n * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    deny = n * F.col("_syy") - F.col("_sy") * F.col("_sy")
    r = F.when(
        (F.col("_n") >= 2) & (denx > 0) & (deny > 0),
        num / F.sqrt(denx.cast("double") * deny.cast("double")),
    )
    return g.select(*keys, "lag", r.alias("corr"), F.col("_n").alias("n"))


def rolling_quantile(
    df: DataFrame,
    value_col: str,
    q: float = 0.5,
    window_rows: int = 60,
    by: Sequence[str] = ("conv_id",),
    order_col: str = "turn_idx",
    out_col: str = "roll_q",
    with_mad: bool = False,
) -> DataFrame:
    """Trailing-window order statistic per key: the nearest-rank
    q-quantile of the last ``window_rows`` observations INCLUDING the
    current row (the rolling-median smoother; robust where the rolling
    mean is outlier-dragged).  With ``with_mad=True`` also emits
    ``roll_mad`` — the median absolute deviation |x − median| of the
    same window, the robust spread estimate behind MAD-based anomaly
    scores (median ± k·MAD).

    Nearest-rank: element at position ceil(q·n) of the sorted window
    (the A4 percentile definition; == DuckDB ``quantile_disc`` over the
    same frame).  NULL values inside the frame are skipped (frame
    offsets stay positional); NULL until the window has one
    observation.

    Shape: ONE keyed window whose per-row state is the frame's value
    array (``collect_list`` over a ROWS frame — bounded at
    ``window_rows`` elements), then pure array expressions:
    ``array_sort`` + ``element_at`` for the quantile, ``transform`` →
    ``array_sort`` → ``element_at`` for the MAD.  All JVM, exact
    integer comparisons, no UDF; cost O(k log k) per row with k bounded
    by construction — at 100 TB this is a map-side pass after the one
    key exchange, and the state never exceeds window_rows longs.
    """
    if not (0 < q <= 1):
        raise ValueError("q must be in (0, 1]")
    w = (
        Window.partitionBy(*list(by))
        .orderBy(order_col)
        .rowsBetween(-(int(window_rows) - 1), 0)
    )
    arr = F.array_sort(F.collect_list(F.col(value_col)).over(w))
    out = df.withColumn("_arr", arr)
    n = F.size(F.col("_arr"))
    idx = F.greatest(F.lit(1), F.ceil(F.lit(float(q)) * n)).cast("int")
    med = F.when(n > 0, F.element_at(F.col("_arr"), idx))
    out = out.withColumn(out_col, med)
    if with_mad:
        dev = F.array_sort(
            F.transform(F.col("_arr"), lambda v: F.abs(v - F.col(out_col)))
        )
        midx = F.greatest(F.lit(1), F.ceil(F.lit(0.5) * n)).cast("int")
        out = out.withColumn(
            "roll_mad", F.when(n > 0, F.element_at(dev, midx))
        )
    return out.drop("_arr")


def cohort_retention(
    df: DataFrame,
    key_col: str = "conv_id",
    ts_col: str = "ts",
    unit: str = "day",
) -> DataFrame:
    """Cohort retention (the product-analytics companion of ``funnel``):
    keys are cohorted by their FIRST active ``unit`` bucket; for each
    (cohort, offset) cell, how many of the cohort's keys were active
    ``offset`` units later, and what fraction of the cohort that is.

    Shape — everything runs on the deduped (key, bucket) pair relation,
    never raw rows: distinct pairs (map-side partial dedup, one
    exchange) → per-key cohort as a window MIN (no join against a
    firsts table) → count_distinct per (cohort, offset) → cohort size
    attached as a window MAX of the offset-0 cell (no self-join).  The
    final relation is |cohorts| × |offsets| — calendar-bounded.

    ``retention_rate`` is one long/long IEEE division — deterministic
    cross-engine.
    """
    b = F.date_trunc(unit, F.col(ts_col))
    pairs = (
        df.select(F.col(key_col).alias("_k"), b.alias("_b"))
        .where(F.col("_k").isNotNull())
        .distinct()
    )
    wk = Window.partitionBy("_k")
    withc = pairs.withColumn("_cohort", F.min("_b").over(wk))
    g = (
        withc.select(
            "_cohort",
            F.datediff(F.col("_b"), F.col("_cohort")).cast("long").alias(
                "offset_days"
            ),
            "_k",
        )
        .groupBy("_cohort", "offset_days")
        .agg(F.count_distinct("_k").alias("n_active"))
    )
    wc = Window.partitionBy("_cohort")
    g = g.withColumn(
        "cohort_size",
        F.max(F.when(F.col("offset_days") == 0, F.col("n_active"))).over(wc),
    )
    return g.select(
        F.col("_cohort").alias("cohort_day"),
        "offset_days",
        "n_active",
        "cohort_size",
        (F.col("n_active") / F.col("cohort_size")).alias("retention_rate"),
    )


def concurrency(
    intervals: DataFrame,
    start_col: str = "session_start",
    end_col: str = "session_end",
    by: Sequence[str] = (),
) -> DataFrame:
    """Interval-overlap sweep: how many intervals (sessions, requests,
    calls) are simultaneously active at each boundary instant — the
    "concurrent sessions over time" curve, the one activity view a
    per-bucket distinct count cannot give (a session spanning a bucket
    boundary is active in both buckets but starts in one).

    Sweep-line as relational algebra: each CLOSED interval [start, end]
    becomes a +1 event at start and a −1 event at end; the running sum
    of deltas in (ts, −delta) order (starts before ends at the same
    instant, so touching intervals count as overlapping) IS the
    concurrency after each boundary.  Output: one row per boundary
    event with the concurrency level from that instant on.

    Scale shape — the global prefix sum NEVER runs as one unpartitioned
    window over the events: pass 1 computes running sums within
    (keys, day) partitions; pass 2 builds the per-day total relation
    (one row per day — calendar-bounded, the gapfill precedent),
    prefix-sums THAT tiny relation, and a broadcast join adds each
    day's offset.  Cost: one keyed-day window + one calendar-size
    window + a broadcast join.
    """
    keys = list(by)
    ev = (
        intervals.select(
            *keys, F.col(start_col).alias("_ts"), F.lit(1).alias("_d")
        )
        .unionByName(
            intervals.select(
                *keys, F.col(end_col).alias("_ts"), F.lit(-1).alias("_d")
            )
        )
        .where(F.col("_ts").isNotNull())
        .withColumn("_day", F.date_trunc("day", F.col("_ts")))
    )
    w_in = (
        Window.partitionBy(*keys, "_day")
        .orderBy(F.col("_ts").asc(), F.col("_d").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ev = ev.withColumn("_run", F.sum("_d").over(w_in))
    day_tot = ev.groupBy(*keys, "_day").agg(F.sum("_d").alias("_dt"))
    w_days = (
        Window.partitionBy(*keys)
        .orderBy("_day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = day_tot.withColumn(
        "_off", F.coalesce(F.sum("_dt").over(w_days), F.lit(0))
    ).select(*keys, "_day", "_off")
    out = ev.join(F.broadcast(offsets), [*keys, "_day"], "left").select(
        *keys,
        F.col("_ts").alias("ts"),
        F.col("_d").alias("delta"),
        (F.col("_run") + F.col("_off")).cast("long").alias("concurrent"),
    )
    return out


def changepoint(
    df: DataFrame,
    value_col: str,
    by: Sequence[str] = ("conv_id",),
    order_col: str = "turn_idx",
    min_seg: int = 1,
) -> DataFrame:
    """Single mean-shift changepoint per key — the offline CUSUM
    estimator: the split k maximizing |n·S_k − k·S_n| over the series
    ordered by ``order_col`` (S = prefix sum).  This is the classic
    deviation-of-prefix-sum-from-the-linear-trend statistic: argmax_k
    |S_k − (k/n)·S_n|, scaled by n so the WHOLE score stays in exact
    integer arithmetic — no float accumulation, no division until the
    reported means.  Companion to the online ``cusum`` monitor (which
    answers "is it drifting NOW"; this answers "WHERE did the level
    shift").

    Shape: one keyed window (cumsum + row index in the same sort), one
    whole-partition window (n, S_n — same exchange, no extra sort), a
    rank-1 argmax via row_number over (score DESC, k ASC) — compiles to
    WindowGroupLimit, so the per-key top-1 is pushed below the final
    exchange.  One shuffle of the input total.

    Exactness: per-row values cast long; the score products run in
    decimal(38,0) (DuckDB mirrors with int128; both cast-to-double
    correctly rounded), so argmax ties and the reported score are
    bit-identical cross-engine.  Tie-break: smallest k.  Segment means
    are ONE bigint/bigint double division each.  Keys with fewer than
    ``2·min_seg`` observations yield no row (no admissible split).
    """
    keys = list(by)
    dec = "decimal(38,0)"
    v = F.col(value_col).cast("long")
    w_seq = Window.partitionBy(*keys).orderBy(order_col)
    w_cum = w_seq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy(*keys)
    t = df.select(*keys, order_col, v.alias("_v")).withColumns(
        {
            "_k": F.row_number().over(w_seq).cast("long"),
            "_s": F.sum("_v").over(w_cum),
            "_n": F.count(F.lit(1)).over(w_all),
            "_tot": F.sum("_v").over(w_all),
        }
    )
    score = F.abs(
        F.col("_n").cast(dec) * F.col("_s").cast(dec)
        - F.col("_k").cast(dec) * F.col("_tot").cast(dec)
    )
    cand = t.where(
        (F.col("_k") >= int(min_seg)) & (F.col("_k") <= F.col("_n") - int(min_seg))
    ).withColumn("_score", score)
    w_pick = Window.partitionBy(*keys).orderBy(
        F.col("_score").desc(), F.col("_k").asc()
    )
    return (
        cand.withColumn("_rn", F.row_number().over(w_pick))
        .where(F.col("_rn") == 1)
        .select(
            *keys,
            F.col(order_col).alias("change_at"),
            F.col("_k").alias("split_k"),
            F.col("_n").alias("n"),
            F.col("_score").cast("double").alias("score"),
            (F.col("_s") / F.col("_k")).alias("mean_left"),
            ((F.col("_tot") - F.col("_s")) / (F.col("_n") - F.col("_k"))).alias(
                "mean_right"
            ),
        )
    )


def time_weighted_percentile(
    df: DataFrame,
    value_col: str,
    qs: Sequence[int] = (50, 90, 99),
    bucket: str = "hour",
    by: Sequence[str] = ("conv_id",),
    ts_col: str = "ts",
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Duration-weighted nearest-rank percentiles per (key, bucket):
    the smallest value v whose cumulative holding time reaches q% of
    the bucket's observed time — "the latency level the system sat at
    or under for q of its time", the gauge companion of the count-
    weighted tier percentiles (which overweight bursts of short-lived
    readings).  Weights are the same exact µs holds as
    time_weighted_avg (shared ``_hold_segments`` kernel; no cross-
    bucket carry by design).

    Selection is pure integer arithmetic: v_q = min{v : cumW(v)·100 ≥
    q·W} with cumW over a RANGE frame ordered by value (ties therefore
    share one cumulative weight — deterministic under any partitioning
    and identical to DuckDB's default RANGE frame).  No float appears
    anywhere, so the gate hash-matches bit for bit.  Bound: W·100 must
    fit int64 — W ≤ bucket span in µs ⇒ safe through year buckets.

    One exchange for the hold window (on the key), one for the
    per-(key, bucket) rank window + final aggregate.
    """
    keys = list(by)
    seg = _hold_segments(df, value_col, bucket, keys, ts_col, order_tiebreak)
    w_cum = (
        Window.partitionBy(*keys, "bucket_start")
        .orderBy("_v")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*keys, "bucket_start")
    t = seg.withColumns(
        {"_cw": F.sum("_w").over(w_cum), "_tw": F.sum("_w").over(w_all)}
    )
    picks = [
        F.min(
            F.when(F.col("_cw") * 100 >= int(q) * F.col("_tw"), F.col("_v"))
        ).alias(f"p{int(q)}_tw")
        for q in qs
    ]
    return t.groupBy(*keys, "bucket_start").agg(
        *picks,
        F.count(F.lit(1)).alias("obs_count"),
        F.max("_tw").alias("obs_weight_us"),
    )


def sax_words(
    df: DataFrame,
    value_col: str,
    by: Sequence[str] = (),
    ts_col: str = "ts",
    bucket: str = "hour",
    alphabet: int = 4,
) -> DataFrame:
    """PAA + SAX symbolic downsampling: per key, reduce a raw series to
    one short string — Piecewise Aggregate Approximation (per-bucket
    mean) quantized to an ``alphabet``-letter symbol, concatenated in
    time order.  The classic index/motif/anomaly primitive (Lin et al.,
    "A Symbolic Representation of Time Series", DMKD 2003): at 10^12
    turns a conversation's whole latency profile becomes ~dozens of
    bytes, joinable and groupable like any token.

    **Equi-depth variant, deliberately.** Canonical SAX quantizes
    z-scores against Gaussian breakpoints; z-scores need σ, and σ needs
    a float sqrt whose interaction with breakpoint comparisons is not
    bit-reproducible across engines (the hazard the ewma/zscore
    docstrings document).  Ranking is: symbol = NTILE(alphabet) of the
    bucket means within each key — exactly as distribution-adaptive,
    and every comparison reduces to one correctly-rounded long→double
    cast + one IEEE division + a total-order tiebreak (mean, bucket),
    so the gate hash-matches bit for bit.

    Values scale to exact integer µ-units (FLOOR(v·1e6) — floor, not
    cast, because Spark truncates and DuckDB rounds on double→bigint
    casts); the PAA mean is then the exact rational s/c.

    Shape: one map-combinable hash aggregate (keys, bucket) over raw,
    then an NTILE window and the word collapse both partitioned by the
    ALREADY-AGGREGATED keys — per-key state is #buckets, calendar-
    bounded, never raw-row-sized.
    """
    if not 2 <= alphabet <= 26:
        raise ValueError("alphabet must be in [2, 26]")
    keys = list(by)
    paa = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(
            *keys,
            F.date_trunc(bucket, F.col(ts_col).cast("timestamp")).alias(
                "bucket_start"
            ),
        )
        .agg(
            F.sum(
                F.floor(F.col(value_col) * F.lit(1_000_000)).cast("long")
            ).alias("_s"),
            F.count(F.lit(1)).alias("_c"),
        )
    )
    w = Window.partitionBy(*[F.col(k) for k in keys] or [F.lit(1)]).orderBy(
        (F.col("_s").cast("double") / F.col("_c").cast("double")).asc(),
        F.col("bucket_start").asc(),
    )
    sym = paa.withColumn("_sym", F.ntile(alphabet).over(w) - 1)
    return (
        sym.groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("bucket_start", "_sym"))
                    ),
                    lambda x: F.char(x["_sym"] + 97),
                ),
                "",
            ).alias("word"),
        )
    )


# ------------------------------------------------------- burn-rate alerts


def burn_rate_alerts(
    df: DataFrame,
    err_prefix: str = "error:5",
    slo_num: int = 5,
    slo_den: int = 100,
    long_minutes: int = 60,
    short_minutes: int = 5,
    long_factor: int = 3,
    short_factor: int = 6,
    ts_col: str = "ts",
) -> DataFrame:
    """Multiwindow error-budget burn-rate alerting (the SRE-workbook
    multiburn pattern): per minute tick, the error rate over a LONG
    trailing window must exceed ``long_factor`` × SLO *and* the rate
    over a SHORT window must exceed ``short_factor`` × SLO — the long
    window keeps alerts from flapping on single bad minutes, the short
    window makes them reset quickly once the incident ends.

    Exactness: burn comparisons are pure integer cross-multiplication
    (``err × slo_den > factor × slo_num × cnt``) — no float rate, no
    rounding, so the DuckDB oracle matches bit-for-bit.

    Scale shape: one map-combinable minute pre-aggregate (the raw-data
    pass), then integer RANGE-frame running sums over the per-minute
    relation.  That second window is global-ordered but CALENDAR-
    BOUNDED — it runs over at most one row per minute (525 600/year),
    never over raw turns; the same justification as gap-fill's pass-2
    relation.  Minute gaps are handled by the RANGE (not ROWS) frame:
    the frame is keyed on the integer epoch-minute, so an empty minute
    simply contributes nothing.
    """
    return burn_from_minutes(
        minute_errors(df, err_prefix, ts_col),
        slo_num=slo_num,
        slo_den=slo_den,
        long_minutes=long_minutes,
        short_minutes=short_minutes,
        long_factor=long_factor,
        short_factor=short_factor,
    )


def minute_errors(
    df: DataFrame, err_prefix: str = "error:5", ts_col: str = "ts"
) -> DataFrame:
    """Per-minute ``(bucket_start, cnt, err)`` counts: turns, and turns
    whose tool starts with ``err_prefix``.  The one pre-aggregate both
    burn-rate paths read: batch ``burn_rate_alerts`` over raw turns,
    and the stream over the watermarked turn stream (the
    ``stream_burn_rate`` gate runs it through ``streaming.sink_once``).
    ``window(ts, '1 minute')`` keys it because a stream needs a window
    key to finalize buckets in append mode; it also drops NULL-``ts``
    turns, which have no minute.
    """
    return (
        df.groupBy(F.window(F.col(ts_col), "1 minute").alias("_w"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(
                F.when(
                    F.col("tool").startswith(err_prefix), F.lit(1)
                ).otherwise(F.lit(0))
            ).alias("err"),
        )
        .select(F.col("_w.start").alias("bucket_start"), "cnt", "err")
    )


def burn_from_minutes(
    minutes: DataFrame,
    slo_num: int = 5,
    slo_den: int = 100,
    long_minutes: int = 60,
    short_minutes: int = 5,
    long_factor: int = 3,
    short_factor: int = 6,
) -> DataFrame:
    """Burn evaluation over an already-materialized per-minute
    (bucket_start, cnt, err) relation — the continuous-mode entry
    point: a stream (``minute_errors`` over the turn stream) or the
    minute tier feeds the SAME windows and thresholds the batch path
    uses."""
    minute_us = 60_000_000
    # the cast admits TIMESTAMP_NTZ minutes (a no-op on TIMESTAMP)
    start_us = F.unix_micros(F.col("bucket_start").cast("timestamp"))
    base = minutes.withColumn(
        "_m", F.floor(start_us / F.lit(minute_us)).cast("long")
    )
    w_long = Window.orderBy("_m").rangeBetween(-(long_minutes - 1), 0)
    w_short = Window.orderBy("_m").rangeBetween(-(short_minutes - 1), 0)
    out = base.withColumns(
        {
            "cnt_long": F.sum("cnt").over(w_long),
            "err_long": F.sum("err").over(w_long),
            "cnt_short": F.sum("cnt").over(w_short),
            "err_short": F.sum("err").over(w_short),
        }
    )
    alert_long = (out["err_long"] * slo_den) > (
        long_factor * slo_num * out["cnt_long"]
    )
    alert_short = (out["err_short"] * slo_den) > (
        short_factor * slo_num * out["cnt_short"]
    )
    return out.select(
        "bucket_start",
        "cnt_long",
        "err_long",
        "cnt_short",
        "err_short",
        alert_long.alias("alert_long"),
        alert_short.alias("alert_short"),
        (alert_long & alert_short).alias("alert"),
    )


# --------------------------------------------------------- linear trend


def trend_from_minutes(
    minutes: DataFrame,
    value_col: str = "cnt",
    window_minutes: int = 30,
    horizon_minutes: int = 10,
    round_dp: int | None = None,
) -> DataFrame:
    """PromQL ``deriv`` + ``predict_linear`` analog over a per-minute
    relation: least-squares slope of the trailing window and the
    extrapolated value ``horizon_minutes`` ahead — the capacity
    trigger ("disk full in 4 h") that alerting stacks build on.

    ``round_dp`` defaults to None (full double precision — the
    ewma/rolling_zscore policy): rounding is presentation, and Spark's
    BigDecimal HALF_UP can disagree with another engine's double
    rounding at exact .5 boundaries, so only gate-facing queries opt
    into it (round-5 ADVICE class, closed round-6).

    INTEGER-INPUT CONTRACT: ``value_col`` is cast to long, so a
    fractional metric (e.g. a rate) is silently floored — the exact
    integer moments that make the result engine-reproducible require
    integer y.  For fractional series, pre-scale to exact integer
    micro-units (``FLOOR(v * 1e6)``, the sax_words recipe) and divide
    the slope/prediction back by 1e6.

    Same exactness recipe as rolling_zscore: the window computes five
    EXACT integer moments (n, Σt, Σy, Σty, Σt²; t = epoch minutes, so
    the largest term Σt² ≈ 5e16 stays far inside int64), then ONE
    fixed sequence of IEEE double ops both engines evaluate
    identically.  slope is per minute; NULL when the window has a
    single sample (denominator 0).
    """
    minute_us = 60_000_000
    base = minutes.withColumn(
        "_t",
        F.floor(F.unix_micros(F.col("bucket_start")) / F.lit(minute_us)).cast(
            "long"
        ),
    ).withColumn("_y", F.col(value_col).cast("long"))
    w = Window.orderBy("_t").rangeBetween(-(window_minutes - 1), 0)
    agg = base.withColumns(
        {
            "_n": F.count(F.lit(1)).over(w),
            "_st": F.sum("_t").over(w),
            "_sy": F.sum("_y").over(w),
            "_sty": F.sum(F.col("_t") * F.col("_y")).over(w),
            "_stt": F.sum(F.col("_t") * F.col("_t")).over(w),
        }
    )
    den = (agg["_n"] * agg["_stt"] - agg["_st"] * agg["_st"]).cast("double")
    num = (agg["_n"] * agg["_sty"] - agg["_st"] * agg["_sy"]).cast("double")
    slope = F.when(den != 0.0, num / den)
    t_pred = (agg["_t"] + F.lit(horizon_minutes)).cast("double")
    pred = (
        agg["_sy"].cast("double") / agg["_n"]
        + slope * (t_pred - agg["_st"].cast("double") / agg["_n"])
    )
    if round_dp is not None:
        slope = F.round(slope, round_dp)
        pred = F.round(pred, round_dp)
    return agg.select(
        "bucket_start",
        F.col("_n").alias("n_samples"),
        F.col("_y").alias("value"),
        slope.alias("slope_per_min"),
        pred.alias("predicted"),
    )


def changes_and_resets(
    minutes: DataFrame,
    value_col: str = "cnt",
    window_minutes: int = 30,
) -> DataFrame:
    """PromQL ``changes()`` and ``resets()`` over a per-minute series:
    per tick, how many times the value changed / decreased (counter
    reset) within the trailing window.  One lag + two conditional
    flags, then RANGE-frame integer sums over the calendar-bounded
    minute relation — same scale shape as the burn/trend evaluators.
    The first sample of the series contributes no transition (lag is
    NULL), exactly like PromQL's pairwise definition."""
    minute_us = 60_000_000
    base = minutes.withColumn(
        "_t",
        F.floor(F.unix_micros(F.col("bucket_start")) / F.lit(minute_us)).cast(
            "long"
        ),
    )
    seq = Window.orderBy("_t")
    prev = F.lag(F.col(value_col)).over(seq)
    flagged = base.withColumns(
        {
            "_chg": F.when(
                prev.isNotNull() & (F.col(value_col) != prev), F.lit(1)
            ).otherwise(F.lit(0)),
            "_rst": F.when(
                prev.isNotNull() & (F.col(value_col) < prev), F.lit(1)
            ).otherwise(F.lit(0)),
        }
    )
    w = Window.orderBy("_t").rangeBetween(-(window_minutes - 1), 0)
    return flagged.select(
        "bucket_start",
        F.col(value_col).alias("value"),
        F.sum("_chg").over(w).alias("n_changes"),
        F.sum("_rst").over(w).alias("n_resets"),
    )
