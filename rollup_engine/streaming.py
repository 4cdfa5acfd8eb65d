"""Structured Streaming rollup — the continuous-operation mode.

The reference "streams" by cron re-runs over a trailing window
(/root/reference/README.md:126-147) and buffers unbounded pair state in
memory (/root/reference/src/request_response_matcher/mod.rs:10-13).
Here the same contract runs as a real stream:

  readStream (file source over the transcript dir)
    → batch ``clean``'s row validity rule (``transcripts.VALID_TURN``)
    → stateful inter-turn delta extraction: applyInPandasWithState
      keyed by conv_id keeps ONE row of state per conversation (last
      turn_idx + ts) — bounded state, unlike the reference's vectors;
      ``_extend_deltas`` is the one numpy kernel the delta and the
      alert operators share (the stream twin of ``deltas.py``)
    → watermark on ts (bounded lateness; late turns beyond it dropped,
      the streaming analog of the reference's trailing-window filter)
    → the batch operators over a window key: ``rollup.metric_aggs``
      per minute, ``tsops.sliding_rollup`` per hopping window,
      ``tsops.minute_errors`` for the burn-rate feed
    → append-mode sink (parquet/memory/foreachBatch merge into the
      rollup store)

State survives restarts through the streaming checkpoint — the
streaming twin of incremental.py's snapshot checkpoint (pinned by
tests/test_streaming.py::test_stream_rollup_and_restart_state).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .rollup import METRIC_COLS, metric_aggs
from .schema import TRANSCRIPT_SCHEMA
from .transcripts import VALID_TURN
from .tsops import minute_errors, sliding_rollup

# bounded lateness of every windowed stream: a window is final, and
# appended, once the watermark (max event time − this) passes its end
_LATENESS = "10 minutes"

_DELTA_OUT = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("delta_ms", T.LongType(), True),
    ]
)

# one row per conversation: last seen (turn_idx, ts-in-micros)
_STATE = T.StructType(
    [
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField("ts_us", T.LongType(), True),
    ]
)


def _extend_deltas(
    pdfs: Iterator[pd.DataFrame], last_idx: int | None, last_us: int | None
):
    """The numpy twin of ``deltas.seeded_turns`` + ``with_deltas`` for
    one conversation's microbatch (no per-row Python loop, no per-group
    pandas frame operation — groups are typically tiny, so sort_values
    / drop_duplicates frame copies would dominate the stateful stage).

    Sorts by turn_idx, keeps the first row per turn_idx (a repeated idx
    neither emits nor advances state), drops rows at or below the
    checkpointed ``last_idx`` (at-least-once re-delivery), and diffs
    the micros with the state row prepended.  Returns None when no row
    survives, else ``(pdf, sel, delta_ms, has_delta, new_state)``:
    ``pdf`` rows ``sel`` are the kept turns in order, ``has_delta`` is
    False only for a conversation's first-ever turn, and ``new_state``
    is the ``(turn_idx, ts_us)`` to checkpoint.
    """
    batches = [p for p in pdfs if len(p.index)]
    if not batches:
        return None
    pdf = batches[0] if len(batches) == 1 else pd.concat(batches, copy=False)
    idx = pdf["turn_idx"].to_numpy()
    order = np.argsort(idx, kind="stable")
    idx_s = idx[order]
    keep = np.ones(len(idx_s), dtype=bool)
    keep[1:] = idx_s[1:] != idx_s[:-1]
    if last_idx is not None:
        keep &= idx_s > last_idx
    if not keep.any():
        return None
    sel = order[keep]
    ts_us = pdf["ts"].to_numpy()[sel].astype("datetime64[us]").astype("int64")
    prev = np.empty_like(ts_us)
    prev[1:] = ts_us[:-1]
    prev[0] = 0 if last_us is None else last_us
    has_delta = np.ones(len(ts_us), dtype=bool)
    has_delta[0] = last_us is not None
    new_state = (int(idx[sel[-1]]), int(ts_us[-1]))
    return pdf, sel, (ts_us - prev) // 1000, has_delta, new_state


def _delta_state_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-conversation delta extraction, state = last (turn_idx, ts µs)."""
    (conv_id,) = key
    ext = _extend_deltas(pdfs, *(state.get if state.exists else (None, None)))
    if ext is None:
        return
    pdf, sel, delta, emit, new_state = ext
    state.update(new_state)
    if emit.any():
        rows = sel[emit]
        yield pd.DataFrame(
            {
                "conv_id": conv_id,
                "turn_idx": pdf["turn_idx"].to_numpy()[rows],
                "ts": pdf["ts"].to_numpy()[rows],
                "tool": pdf["tool"].to_numpy()[rows],
                "delta_ms": delta[emit],
            }
        )


def stream_deltas(turns: DataFrame) -> DataFrame:
    """Streaming inter-turn deltas with per-conversation state; rows
    failing ``transcripts.VALID_TURN`` are dropped, as batch ``clean``
    drops them."""
    return (
        turns.where(VALID_TURN)
        .select("conv_id", "turn_idx", "ts", "tool")
        .groupBy("conv_id")
        .applyInPandasWithState(
            _delta_state_fn,
            _DELTA_OUT,
            _STATE,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


def stream_minute_rollup(
    deltas: DataFrame, watermark: str = _LATENESS
) -> DataFrame:
    """Watermarked tumbling-minute aggregate over the delta stream: the
    batch rollup's ``metric_aggs`` over a ``window(ts, '1 minute')``
    key (a stream needs a window key to finalize a bucket in append
    mode).  ``lat_sum_ms`` is not emitted, so the optimizer drops it."""
    return (
        deltas.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(*metric_aggs())
        .select(
            F.col("w.start").alias("bucket_start"),
            *[c for c in METRIC_COLS if c != "lat_sum_ms"],
        )
    )


def stream_session_stats(
    events: DataFrame,
    gap_seconds: int = 1800,
    by: tuple[str, ...] = ("user_id",),
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of tsops.session_stats — Spark's native
    ``session_window`` stateful operator (merging session state per key,
    watermark-bounded; the state store holds one open window per active
    key instead of the reference's unbounded in-memory vectors).

    Boundary-exact equivalence with the batch operator: batch starts a
    new session when the inter-event gap is STRICTLY greater than
    ``gap_seconds``; ``session_window`` merges half-open [ts, ts+G)
    windows, splitting when gap ≥ G.  With G = gap_seconds + 1 µs (event
    time is microsecond-resolution) "gap < G" ⟺ "gap ≤ gap_seconds" —
    identical session boundaries, pinned by the stream_sessionize gate
    against the batch DuckDB oracle.

    Emits one append-mode row per CLOSED session (watermark passed the
    session's end+gap): key, session_start, session_end, n_events,
    duration_sec.  A per-key running ``session_seq`` is inherently a
    batch notion (it re-ranks history); derive it downstream over the
    sink table when needed (see queries_pipeline.q_stream_sessionize).
    """
    gap_us = int(gap_seconds) * 1_000_000 + 1
    t = F.col(ts_col)
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(
            *[F.col(c) for c in by],
            F.session_window(t, f"{gap_us} microseconds").alias("sw"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(t).alias("session_start"),
            F.max(t).alias("session_end"),
        )
        .withColumn(
            "duration_sec",
            (
                F.unix_micros(F.col("session_end").cast("timestamp"))
                - F.unix_micros(F.col("session_start").cast("timestamp"))
            )
            / F.lit(1_000_000.0),
        )
        .drop("sw")
    )


def _sink_once(
    spark: SparkSession, df: DataFrame, checkpoint_dir: str, out_dir: str
) -> None:
    """Run ``df`` as one availableNow pass into an append-mode parquet
    sink, checkpointed at ``checkpoint_dir``: process every unseen
    file, update state, append what is final, stop.

    State/shuffle partitions are sized to the session's parallelism
    first (round-6).  Streaming has no AQE coalescing, the partition
    count freezes into the checkpoint when the query starts, and every
    state partition pays per-microbatch store open/commit I/O —
    measured on the 1M-turn stream bench at local[8]: 32 partitions
    (the batch 4×cores default of older rounds) 8.0 s vs 8 partitions
    5.9 s.  On a real cluster this is the executor-core count — the
    same submit-time knob; new checkpoints pick it up, existing ones
    keep their frozen count (Spark reads it back from the checkpoint).
    """
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(spark.sparkContext.defaultParallelism),
    )
    (
        df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def run_session_stream_once(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    schema: T.StructType,
    gap_seconds: int = 1800,
    by: tuple[str, ...] = ("user_id",),
    max_files: int = 64,
) -> None:
    """One availableNow sessionization pass over a file-source event
    stream; closed sessions append to the parquet sink, open-session
    state survives in the checkpoint for the next pass."""
    events = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .parquet(input_dir)
    )
    sessions = stream_session_stats(events, gap_seconds=gap_seconds, by=by)
    _sink_once(spark, sessions, checkpoint_dir, out_dir)


def read_turn_stream(
    spark: SparkSession, input_dir: str, max_files: int = 64
) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(input_dir)
    )


def run_stream_once(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    max_files: int = 64,
) -> None:
    """One availableNow pass: process every unseen file, update state,
    append finalized buckets to the parquet sink, stop.  The file sink
    (unlike memory) supports checkpoint recovery, so repeated calls
    resume conversation state and watermarks.  ``max_files=1`` forces
    one microbatch per file — watermarks then advance between files,
    letting a later file flush earlier windows in the same pass."""
    turns = read_turn_stream(spark, input_dir, max_files=max_files)
    rollup = stream_minute_rollup(stream_deltas(turns))
    _sink_once(spark, rollup, checkpoint_dir, out_dir)


def run_sliding_stream_once(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    length: str = "5 minutes",
    hop: str = "1 minute",
    max_files: int = 64,
) -> None:
    """One availableNow pass of the hopping-window stream (same file
    choreography as ``run_stream_once``): the batch ``sliding_rollup``
    over the watermarked delta stream.  Append mode emits a window once
    the watermark passes its end."""
    turns = read_turn_stream(spark, input_dir, max_files=max_files)
    deltas = stream_deltas(turns).withWatermark("ts", _LATENESS)
    rollup = sliding_rollup(deltas, "delta_ms", length, hop)
    _sink_once(spark, rollup, checkpoint_dir, out_dir)


def run_burn_stream_once(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    max_files: int = 64,
) -> None:
    """One availableNow pass materializing the per-minute error counts
    (same file choreography as ``run_stream_once``): the batch
    ``minute_errors`` pre-aggregate over the watermarked raw turn
    stream — the continuous feed for ``tsops.burn_from_minutes``, so
    the trailing burn windows read this tiny relation, never raw
    turns."""
    turns = read_turn_stream(spark, input_dir, max_files=max_files)
    counts = minute_errors(turns.withWatermark("ts", _LATENESS))
    _sink_once(spark, counts, checkpoint_dir, out_dir)


# ------------------------------------------------ stateful alerting

_ALERT_OUT = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField("delta_ms", T.LongType(), True),
        T.StructField("state", T.LongType(), True),
        T.StructField("direction", T.StringType(), True),
    ]
)

_ALERT_STATE = T.StructType(
    [
        T.StructField("last_idx", T.IntegerType(), True),
        T.StructField("last_us", T.LongType(), True),
        T.StructField("alert", T.LongType(), True),
    ]
)


def stream_threshold_alerts(
    turns: DataFrame, enter: int, exit: int
) -> DataFrame:
    """Streaming twin of tsops.threshold_alerts — a CUSTOM stateful
    operator via ``applyInPandasWithState`` (the alert flip-flop is not
    expressible as a windowed aggregate): per conversation the state
    row holds (last turn_idx, last ts µs, alert bit), each microbatch
    extends the inter-turn delta series from that state, runs the
    vectorized hysteresis carry (decided states ffill across the
    [exit, enter) hold band — no per-row Python loop), emits ONLY the
    state transitions, and checkpoints the final bit.  Bounded state:
    one fixed-width row per live conversation, the same contract as
    the delta extractor.  Append mode, no watermark needed — a
    transition is final the moment the turn that causes it arrives
    (per-key order within a batch is guaranteed by the sort; across
    batches by the checkpointed last_idx).

    Emits the batch gate's exact schema (conv_id, turn_idx, delta_ms,
    state, direction), so the DuckDB oracle is reused verbatim.
    """
    if not (enter > exit):
        raise ValueError("hysteresis needs enter > exit")
    enter_i, exit_i = int(enter), int(exit)

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (conv_id,) = key
        if state.exists:
            last_idx, last_us, alert = state.get
        else:
            last_idx, last_us, alert = None, None, 0
        ext = _extend_deltas(pdfs, last_idx, last_us)
        if ext is None:
            return
        pdf, sel, delta, have_delta, (new_idx, new_us) = ext
        raw = np.where(delta >= enter_i, 1, np.where(delta < exit_i, 0, -1))
        raw = np.where(have_delta, raw, -1)  # no observation holds state
        s = (
            pd.Series(raw, dtype="float64")
            .replace(-1.0, np.nan)
            .ffill()
            .fillna(float(alert))
            .astype("int64")
            .to_numpy()
        )
        prev_state = np.empty_like(s)
        prev_state[0] = alert
        prev_state[1:] = s[:-1]
        trans = s != prev_state
        state.update((new_idx, new_us, int(s[-1])))
        if not trans.any():
            return
        out = pd.DataFrame(
            {
                "conv_id": conv_id,
                "turn_idx": pdf["turn_idx"].to_numpy()[sel][trans],
                "delta_ms": delta[trans],
                "state": s[trans],
                "direction": np.where(s[trans] == 1, "rising", "clearing"),
            }
        )
        yield out

    return (
        turns.where(VALID_TURN)
        .select("conv_id", "turn_idx", "ts")
        .groupBy("conv_id")
        .applyInPandasWithState(
            fn, _ALERT_OUT, _ALERT_STATE, "append", GroupStateTimeout.NoTimeout
        )
    )


def run_alert_stream_once(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    enter: int,
    exit: int,
    max_files: int = 64,
) -> None:
    """One availableNow alerting pass over the transcript file stream;
    transitions append to the parquet sink, per-conversation alert
    state survives in the checkpoint for the next pass (no watermark:
    transitions are final on arrival)."""
    turns = read_turn_stream(spark, input_dir, max_files=max_files)
    alerts = stream_threshold_alerts(turns, enter=enter, exit=exit)
    _sink_once(spark, alerts, checkpoint_dir, out_dir)
