"""Driver gates for the two PIPELINE modes — Structured Streaming and
incremental snapshot refresh — verified against the same DuckDB batch
SQL as the one-shot rollups.  These close the loop the pytest suite can
only pin locally: the driver itself now checks that a stream / an
incremental refresh over the sf parquet equals a batch recompute.

Both gates stage their inputs under ``.gatework/`` (gitignored, wiped
per call, inside the repo so nothing is written elsewhere).
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .transcripts import from_events

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# conv_id for the watermark sentinel: \x7f sorts after every printable
# id and cannot collide with the generator's numeric user ids.
_SENTINEL_CONV = "\x7fwatermark-sentinel"


def _workdir(kind: str, sf_dir: str) -> str:
    tag = sf_dir.rstrip("/").split("/")[-1]
    d = os.path.join(_REPO, ".gatework", f"{kind}_{tag}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    return d


def q_stream_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming minute rollup == batch SQL rollup.

    The stream is an availableNow pass of exactly two microbatches:
    ALL real turns in batch 1 (the watermark is still unset during the
    first batch, so no row is ever late — hash-partitioned files each
    span the full time range, so one-file-per-batch would late-drop
    most rows), then a far-future sentinel conversation alone in batch
    2 — its event time advances the watermark past every real window,
    so append mode flushes ALL real buckets before the pass ends
    (watermarks only take effect in the batch after the data that moved
    them).  The sentinel's own bucket is filtered out of the result.
    """
    from .streaming import run_stream_once

    work = _workdir("stream", sf_dir)
    t = from_events(spark, sf_dir)
    max_ts = t.agg(F.max("ts")).first()[0]
    input_dir = os.path.join(work, "input")
    t.repartition(4, "conv_id").write.mode("overwrite").parquet(input_dir)
    real_parts = set(os.listdir(input_dir))

    sentinel_ts = F.lit(max_ts) + F.expr("INTERVAL 30 DAYS")
    sentinel = spark.range(2).select(
        F.lit(_SENTINEL_CONV).alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.lit("").alias("text"),
        F.lit("").alias("tool"),
        (sentinel_ts + F.col("id") * F.expr("INTERVAL 1 SECOND")).alias("ts"),
    )
    sentinel.coalesce(1).write.mode("append").parquet(input_dir)
    # the file source orders batches by modification time: pin the
    # sentinel part files strictly after the real ones
    now = time.time()
    for f in set(os.listdir(input_dir)) - real_parts:
        full = os.path.join(input_dir, f)
        os.utime(full, (now + 60, now + 60))

    n_real = len([f for f in real_parts if f.startswith("part-")])
    run_stream_once(
        spark,
        input_dir,
        os.path.join(work, "ckpt"),
        os.path.join(work, "out"),
        max_files=n_real,
    )
    out = spark.read.parquet(os.path.join(work, "out"))
    return out.where(F.col("bucket_start") <= F.lit(max_ts))


def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming sessionization == batch session_stats (the
    round-3 verdict's missing §2.7 twin): Spark's native session_window
    stateful operator over the events stream, availableNow, with the
    same two-microbatch watermark choreography as stream_minute (all
    real events in batch 1; a far-future sentinel user alone in batch 2
    advances the watermark so every real session closes and flushes).

    session_seq is re-derived over the sink BATCH-side (row_number per
    user by session_start — sessions are disjoint per key, so the rank
    is well-defined), making the output schema identical to the batch
    ``sessionize`` gate; the DuckDB oracle is reused verbatim.
    """
    from .streaming import run_session_stream_once

    work = _workdir("streamsess", sf_dir)
    # testdata ts is TIMESTAMP_NTZ; watermarks need TIMESTAMP (session
    # TZ pinned UTC, so the instant is unchanged)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id"
    )
    max_ts = ev.agg(F.max("ts")).first()[0]
    input_dir = os.path.join(work, "input")
    ev.repartition(4, "user_id").write.mode("overwrite").parquet(input_dir)
    real_parts = set(os.listdir(input_dir))

    sentinel_ts = F.lit(max_ts) + F.expr("INTERVAL 30 DAYS")
    sentinel = spark.range(2).select(
        (F.lit(-1) - F.col("id")).alias("event_id"),
        (sentinel_ts + F.col("id") * F.expr("INTERVAL 1 SECOND")).alias("ts"),
        F.lit(-1).cast("long").alias("user_id"),  # generator ids are ≥ 0
    )
    sentinel.coalesce(1).write.mode("append").parquet(input_dir)
    now = time.time()
    for f in set(os.listdir(input_dir)) - real_parts:
        os.utime(os.path.join(input_dir, f), (now + 60, now + 60))

    n_real = len([f for f in real_parts if f.startswith("part-")])
    run_session_stream_once(
        spark,
        input_dir,
        os.path.join(work, "ckpt"),
        os.path.join(work, "out"),
        schema=ev.schema,
        gap_seconds=1800,
        by=("user_id",),
        max_files=n_real,
    )
    out = spark.read.parquet(os.path.join(work, "out")).where("user_id >= 0")
    from pyspark.sql import Window

    seq = Window.partitionBy("user_id").orderBy("session_start")
    return out.select(
        "user_id",
        F.row_number().over(seq).cast("long").alias("session_seq"),
        "n_events",
        # back to NTZ to mirror the batch sessionize gate's schema
        F.col("session_start").cast("timestamp_ntz").alias("session_start"),
        F.col("session_end").cast("timestamp_ntz").alias("session_end"),
        "duration_sec",
    )


def q_incremental_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-snapshot incremental refresh == batch SQL rollup: snapshot 1
    carries each conversation's first half, snapshot 2 the rest; the
    boundary stitch must recover every cross-batch delta and the
    touched-bucket merge must equal a full recompute."""
    from .checkpoint import SnapshotStore
    from .incremental import IncrementalRollup

    work = _workdir("incr", sf_dir)
    t = from_events(spark, sf_dir)
    store = SnapshotStore(os.path.join(work, "store"))
    store.append(t.where("turn_idx < 5"))
    store.append(t.where("turn_idx >= 5"))
    job = IncrementalRollup(store, os.path.join(work, "work"))
    job.refresh(spark)
    job.refresh(spark)
    out = job.read_rollup(spark)
    return out.select(
        "bucket_start",
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
    )


def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming HOPPING-window rollup == the batch
    ``sliding_rollup`` gate (oracle reused verbatim): proves the
    stream-portability claim on the sliding path with the same
    two-microbatch watermark choreography as ``q_stream_minute`` —
    all real turns in batch 1, a far-future sentinel conversation in
    batch 2 flushes every real window (every one of a real turn's 5
    windows starts at or before its event time, hence ≤ max_ts; every
    sentinel window starts 30 days later and is filtered out)."""
    from .streaming import run_sliding_stream_once

    work = _workdir("streamslide", sf_dir)
    t = from_events(spark, sf_dir)
    max_ts = t.agg(F.max("ts")).first()[0]
    input_dir = os.path.join(work, "input")
    t.repartition(4, "conv_id").write.mode("overwrite").parquet(input_dir)
    real_parts = set(os.listdir(input_dir))

    sentinel_ts = F.lit(max_ts) + F.expr("INTERVAL 30 DAYS")
    sentinel = spark.range(2).select(
        F.lit(_SENTINEL_CONV).alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.lit("").alias("text"),
        F.lit("").alias("tool"),
        (sentinel_ts + F.col("id") * F.expr("INTERVAL 1 SECOND")).alias("ts"),
    )
    sentinel.coalesce(1).write.mode("append").parquet(input_dir)
    now = time.time()
    for f in set(os.listdir(input_dir)) - real_parts:
        os.utime(os.path.join(input_dir, f), (now + 60, now + 60))

    n_real = len([f for f in real_parts if f.startswith("part-")])
    run_sliding_stream_once(
        spark,
        input_dir,
        os.path.join(work, "ckpt"),
        os.path.join(work, "out"),
        length="5 minutes",
        hop="1 minute",
        max_files=n_real,
    )
    out = spark.read.parquet(os.path.join(work, "out"))
    return out.where(F.col("bucket_start") <= F.lit(max_ts))


def q_stream_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-mode burn-rate alerting == the batch ``burn_rate``
    gate (oracle reused verbatim): the stream materializes ONLY the
    per-minute (cnt, err) counts (tsops.minute_errors, same
    two-microbatch watermark choreography as q_stream_minute — a
    1-minute window starts at or before its event time, so every real
    window is ≤ max_ts and the sentinel's are 30 days out), then
    tsops.burn_from_minutes runs the SAME trailing windows and integer
    thresholds over that tiny relation.  This is the deployment shape:
    the alert evaluator never touches raw turns."""
    from .streaming import run_burn_stream_once
    from .tsops import burn_from_minutes

    work = _workdir("streamburn", sf_dir)
    t = from_events(spark, sf_dir)
    max_ts = t.agg(F.max("ts")).first()[0]
    input_dir = os.path.join(work, "input")
    t.repartition(4, "conv_id").write.mode("overwrite").parquet(input_dir)
    real_parts = set(os.listdir(input_dir))

    sentinel_ts = F.lit(max_ts) + F.expr("INTERVAL 30 DAYS")
    sentinel = spark.range(2).select(
        F.lit(_SENTINEL_CONV).alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.lit("").alias("text"),
        F.lit("").alias("tool"),
        (sentinel_ts + F.col("id") * F.expr("INTERVAL 1 SECOND")).alias("ts"),
    )
    sentinel.coalesce(1).write.mode("append").parquet(input_dir)
    now = time.time()
    for f in set(os.listdir(input_dir)) - real_parts:
        os.utime(os.path.join(input_dir, f), (now + 60, now + 60))

    n_real = len([f for f in real_parts if f.startswith("part-")])
    run_burn_stream_once(
        spark,
        input_dir,
        os.path.join(work, "ckpt"),
        os.path.join(work, "out"),
        max_files=n_real,
    )
    minutes = spark.read.parquet(os.path.join(work, "out")).where(
        F.col("bucket_start") <= F.lit(max_ts)
    )
    return burn_from_minutes(minutes)


def q_stream_predict_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-mode capacity trigger == the batch ``predict_linear``
    gate (oracle reused verbatim): the SAME materialized per-minute
    feed the burn-rate twin streams (tsops.minute_errors) drives
    tsops.trend_from_minutes — one stream materialization serves every
    trailing-window evaluator, which is the point of the feed."""
    from .streaming import run_burn_stream_once
    from .tsops import trend_from_minutes

    work = _workdir("streamtrend", sf_dir)
    t = from_events(spark, sf_dir)
    max_ts = t.agg(F.max("ts")).first()[0]
    input_dir = os.path.join(work, "input")
    t.repartition(4, "conv_id").write.mode("overwrite").parquet(input_dir)
    real_parts = set(os.listdir(input_dir))

    sentinel_ts = F.lit(max_ts) + F.expr("INTERVAL 30 DAYS")
    sentinel = spark.range(2).select(
        F.lit(_SENTINEL_CONV).alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.lit("").alias("text"),
        F.lit("").alias("tool"),
        (sentinel_ts + F.col("id") * F.expr("INTERVAL 1 SECOND")).alias("ts"),
    )
    sentinel.coalesce(1).write.mode("append").parquet(input_dir)
    now = time.time()
    for f in set(os.listdir(input_dir)) - real_parts:
        os.utime(os.path.join(input_dir, f), (now + 60, now + 60))

    n_real = len([f for f in real_parts if f.startswith("part-")])
    run_burn_stream_once(
        spark,
        input_dir,
        os.path.join(work, "ckpt"),
        os.path.join(work, "out"),
        max_files=n_real,
    )
    minutes = spark.read.parquet(os.path.join(work, "out")).where(
        F.col("bucket_start") <= F.lit(max_ts)
    )
    # gate-facing 4-dp rounding (shares the predict_linear oracle)
    return trend_from_minutes(minutes, round_dp=4)


def q_stream_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator == batch hysteresis alerting
    (oracle reused verbatim): applyInPandasWithState keeps one
    (last_idx, last_ts, alert bit) row per conversation and emits only
    transitions (see streaming.stream_threshold_alerts).  No watermark
    choreography: a transition is final when the turn causing it
    arrives, so a single availableNow batch suffices."""
    from .streaming import run_alert_stream_once

    work = _workdir("streamalerts", sf_dir)
    t = from_events(spark, sf_dir)
    input_dir = os.path.join(work, "input")
    t.repartition(4, "conv_id").write.mode("overwrite").parquet(input_dir)
    n_real = len(
        [f for f in os.listdir(input_dir) if f.startswith("part-")]
    )
    run_alert_stream_once(
        spark,
        input_dir,
        os.path.join(work, "ckpt"),
        os.path.join(work, "out"),
        enter=60_000_000,
        exit=20_000_000,
        max_files=n_real,
    )
    return spark.read.parquet(os.path.join(work, "out"))


def q_realtime_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-time continuous aggregate == one-shot batch rollup (oracle:
    the direct minute-tier SQL).  Materializes the minute tier for
    everything before the last full hour (day-partitioned parquet under
    .gatework/), then serves cold-materialized ∪ hot-raw-tail through
    realtime.realtime_rollup — the driver thereby verifies the
    cross-boundary delta seeding and the no-overlap bucket split."""
    from .deltas import with_deltas
    from .hist_rollup import hist_rollup
    from .realtime import materialize_tier, realtime_rollup

    work = _workdir("realtime", sf_dir)
    t = from_events(spark, sf_dir)
    max_ts = t.agg(F.max("ts")).first()[0]
    split = max_ts.replace(minute=0, second=0, microsecond=0)
    tier_path = os.path.join(work, "minute_tier")
    materialize_tier(
        hist_rollup(with_deltas(t.where(F.col("ts") < F.lit(split))), "minute"),
        tier_path,
    )
    out = realtime_rollup(spark, tier_path, t, "minute", split)
    return out.select(
        "tier",
        "bucket_start",
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
    )
