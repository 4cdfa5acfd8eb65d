"""Driver gates for the two PIPELINE modes — Structured Streaming and
incremental snapshot refresh — verified against the same DuckDB batch
SQL as the one-shot rollups.  These close the loop the pytest suite can
only pin locally: the driver itself now checks that a stream / an
incremental refresh over the sf parquet equals a batch recompute.

Every gate stages its input under ``.gatework/`` (gitignored, wiped
per call, inside the repo so nothing is written elsewhere).
"""

from __future__ import annotations

import os
import shutil
import time
from datetime import datetime

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .rollup import METRIC_COLS
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


def _stage(
    work: str, df: DataFrame, key: str, sentinel: DataFrame | None = None
) -> tuple[str, int]:
    """Write a stream gate's input: ``df`` hash-partitioned by ``key``
    into 4 files, then ``sentinel`` (if given) as files the file source
    reads strictly after them.  Returns ``(input_dir, n_real)``.

    The watermark choreography: an availableNow pass with
    ``maxFilesPerTrigger = n_real`` runs exactly two microbatches.
    Batch 1 holds ALL real rows (the watermark is still unset during
    the first batch, so no row is ever late — hash-partitioned files
    each span the full time range, so one-file-per-batch would
    late-drop most rows).  Batch 2 holds the far-future sentinel
    alone: its event time advances the watermark past every real
    window, so append mode flushes them all before the pass ends
    (watermarks only take effect in the batch after the data that
    moved them).  The gate filters the sentinel's own rows out.
    """
    input_dir = os.path.join(work, "input")
    df.repartition(4, key).write.mode("overwrite").parquet(input_dir)
    real_parts = set(os.listdir(input_dir))
    if sentinel is not None:
        sentinel.coalesce(1).write.mode("append").parquet(input_dir)
        # the file source orders batches by modification time: pin the
        # sentinel part files strictly after the real ones
        now = time.time()
        for f in set(os.listdir(input_dir)) - real_parts:
            os.utime(os.path.join(input_dir, f), (now + 60, now + 60))
    return input_dir, len([f for f in real_parts if f.startswith("part-")])


def _sentinel_ts(max_ts: datetime) -> Column:
    """Sentinel event times: one per ``spark.range`` id, 30 days after
    the last real event, 1 s apart."""
    return (
        F.lit(max_ts)
        + F.expr("INTERVAL 30 DAYS")
        + F.col("id") * F.expr("INTERVAL 1 SECOND")
    ).alias("ts")


def _stream_turns(
    spark: SparkSession, sf_dir: str, kind: str
) -> tuple[str, DataFrame, datetime]:
    """Stage the sf transcripts plus a two-turn sentinel conversation
    (``_stage``) in a fresh workdir; returns ``(work, turn stream,
    max_ts)``.  Every real window starts at or before its event time,
    hence ≤ max_ts; every sentinel window starts 30 days later."""
    from .streaming import read_turn_stream

    work = _workdir(kind, sf_dir)
    t = from_events(spark, sf_dir)
    max_ts = t.agg(F.max("ts")).first()[0]
    sentinel = spark.range(2).select(
        F.lit(_SENTINEL_CONV).alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.lit("").alias("text"),
        F.lit("").alias("tool"),
        _sentinel_ts(max_ts),
    )
    input_dir, n_real = _stage(work, t, "conv_id", sentinel)
    return work, read_turn_stream(spark, input_dir, max_files=n_real), max_ts


def _sink(spark: SparkSession, df: DataFrame, work: str) -> DataFrame:
    """One availableNow pass of ``df`` (``streaming.sink_once``) into
    ``work``'s checkpoint and output dirs; returns the appended rows."""
    from .streaming import sink_once

    out = os.path.join(work, "out")
    sink_once(spark, df, os.path.join(work, "ckpt"), out)
    return spark.read.parquet(out)


def q_stream_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming minute rollup == batch SQL rollup, under the
    two-microbatch watermark choreography of ``_stage``."""
    from .streaming import stream_deltas, stream_minute_rollup

    work, turns, max_ts = _stream_turns(spark, sf_dir, "stream")
    out = _sink(spark, stream_minute_rollup(stream_deltas(turns)), work)
    return out.where(F.col("bucket_start") <= F.lit(max_ts))


def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming sessionization == batch session_stats (the
    round-3 verdict's missing §2.7 twin): Spark's native session_window
    stateful operator over the events stream, availableNow, with the
    watermark choreography of ``_stage`` (a far-future sentinel user
    closes and flushes every real session).

    session_seq is re-derived over the sink BATCH-side (row_number per
    user by session_start — sessions are disjoint per key, so the rank
    is well-defined), making the output schema identical to the batch
    ``sessionize`` gate; the DuckDB oracle is reused verbatim.
    """
    from pyspark.sql import Window

    from .streaming import stream_session_stats

    work = _workdir("streamsess", sf_dir)
    # testdata ts is TIMESTAMP_NTZ; watermarks need TIMESTAMP (session
    # TZ pinned UTC, so the instant is unchanged)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id"
    )
    max_ts = ev.agg(F.max("ts")).first()[0]
    sentinel = spark.range(2).select(
        (F.lit(-1) - F.col("id")).alias("event_id"),
        _sentinel_ts(max_ts),
        F.lit(-1).cast("long").alias("user_id"),  # generator ids are ≥ 0
    )
    input_dir, n_real = _stage(work, ev, "user_id", sentinel)
    events = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", n_real)
        .parquet(input_dir)
    )
    sessions = stream_session_stats(events, gap_seconds=1800, by=("user_id",))
    seq = Window.partitionBy("user_id").orderBy("session_start")
    return _sink(spark, sessions, work).where("user_id >= 0").select(
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
    return job.read_rollup(spark).select("bucket_start", *METRIC_COLS)


def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming HOPPING-window rollup == the batch
    ``sliding_rollup`` gate (oracle reused verbatim): the batch
    operator over the watermarked delta stream, under the watermark
    choreography of ``_stage`` (every one of a real turn's 5 windows
    starts at or before its event time)."""
    from .streaming import LATENESS, stream_deltas
    from .tsops import sliding_rollup

    work, turns, max_ts = _stream_turns(spark, sf_dir, "streamslide")
    deltas = stream_deltas(turns).withWatermark("ts", LATENESS)
    rollup = sliding_rollup(deltas, "delta_ms", "5 minutes", "1 minute")
    return _sink(spark, rollup, work).where(F.col("bucket_start") <= F.lit(max_ts))


def _stream_minute_errors(
    spark: SparkSession, sf_dir: str, kind: str
) -> DataFrame:
    """The continuous per-minute (cnt, err) feed, sentinel rows dropped:
    the stream materializes only the batch ``tsops.minute_errors``
    pre-aggregate over the watermarked raw turn stream, so trailing-
    window evaluators read this tiny relation, never raw turns."""
    from .streaming import LATENESS
    from .tsops import minute_errors

    work, turns, max_ts = _stream_turns(spark, sf_dir, kind)
    counts = minute_errors(turns.withWatermark("ts", LATENESS))
    return _sink(spark, counts, work).where(F.col("bucket_start") <= F.lit(max_ts))


def q_stream_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-mode burn-rate alerting == the batch ``burn_rate``
    gate (oracle reused verbatim): tsops.burn_from_minutes runs the
    SAME trailing windows and integer thresholds over the streamed
    per-minute feed.  This is the deployment shape: the alert
    evaluator never touches raw turns."""
    from .tsops import burn_from_minutes

    return burn_from_minutes(_stream_minute_errors(spark, sf_dir, "streamburn"))


def q_stream_predict_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-mode capacity trigger == the batch ``predict_linear``
    gate (oracle reused verbatim): the SAME streamed per-minute feed
    the burn-rate twin reads drives tsops.trend_from_minutes — one
    stream materialization serves every trailing-window evaluator,
    which is the point of the feed."""
    from .tsops import trend_from_minutes

    minutes = _stream_minute_errors(spark, sf_dir, "streamtrend")
    # gate-facing 4-dp rounding (shares the predict_linear oracle)
    return trend_from_minutes(minutes, round_dp=4)


def q_stream_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator == batch hysteresis alerting
    (oracle reused verbatim): applyInPandasWithState keeps one
    (last_idx, last_ts, alert bit) row per conversation and emits only
    transitions (see streaming.stream_threshold_alerts).  No watermark
    choreography: a transition is final when the turn causing it
    arrives, so a single availableNow batch suffices."""
    from .streaming import read_turn_stream, stream_threshold_alerts

    work = _workdir("streamalerts", sf_dir)
    input_dir, n_real = _stage(work, from_events(spark, sf_dir), "conv_id")
    turns = read_turn_stream(spark, input_dir, max_files=n_real)
    alerts = stream_threshold_alerts(turns, enter=60_000_000, exit=20_000_000)
    return _sink(spark, alerts, work)


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
    return out.select("tier", "bucket_start", *METRIC_COLS)
