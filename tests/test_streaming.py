"""Structured Streaming rollup: stateful deltas, watermark finalize,
state survival across restarts (streaming twin of the snapshot
checkpoint)."""

from __future__ import annotations

import datetime as dt

import pytest

from rollup_engine.schema import TRANSCRIPT_SCHEMA
from rollup_engine.streaming import (
    read_turn_stream,
    run_stream_once,
    sink_once,
    stream_threshold_alerts,
)


def _write_batch(spark, path, rows):
    df = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    df.coalesce(1).write.mode("append").parquet(path)


def _turns(conv, base, deltas_ms, start_idx=0):
    t = dt.datetime.fromisoformat(base)
    rows = [(conv, start_idx, "user", "x", "", t)]
    for i, d in enumerate(deltas_ms, start=start_idx + 1):
        t = t + dt.timedelta(milliseconds=d)
        rows.append((conv, i, "user", "x", "", t))
    return rows


def test_stream_rollup_and_restart_state(spark, tmp_path):
    inp = str(tmp_path / "turns")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    # batch 1: conv a turns 0..3 (deltas 7,10,13) at T0, plus a future
    # conv to advance the watermark so T0's minute bucket finalizes
    # (append mode only emits closed windows).
    _write_batch(
        spark,
        inp,
        _turns("a", "2024-01-01T00:00:00", [7, 10, 13])
        + _turns("wm", "2024-01-01T12:00:00", [5]),
    )
    run_stream_once(spark, inp, ckpt, out)
    got1 = {
        r.bucket_start.isoformat(): r
        for r in spark.read.parquet(out).collect()
    }
    b0 = got1["2024-01-01T00:00:00"]
    assert (b0.turn_count, b0.lat_min_ms, b0.lat_max_ms) == (3, 7, 13)
    assert b0.lat_p50_ms == 10

    # batch 2 after RESTART: conv a continues at a (watermark-fresh)
    # later time — its delta must be computed against turn 3's ts
    # recovered from the checkpointed state.
    cont = [
        ("a", 4, "user", "x", "", dt.datetime(2024, 1, 2, 0, 30, 0)),
        ("e", 0, "user", "x", "", dt.datetime(2024, 1, 2, 0, 40, 0)),
        ("e", 1, "user", "x", "error:4xx", dt.datetime(2024, 1, 2, 0, 40, 1)),
        # watermark pusher to finalize the above
        ("wm2", 0, "user", "x", "", dt.datetime(2024, 1, 3, 0, 0)),
        ("wm2", 1, "user", "x", "", dt.datetime(2024, 1, 3, 0, 0, 1)),
    ]
    _write_batch(spark, inp, cont)
    run_stream_once(spark, inp, ckpt, out)
    got2 = {
        r.bucket_start.isoformat(): r
        for r in spark.read.parquet(out).collect()
    }
    # turn-3 ts was 00:00:00.030 on Jan 1 → delta to Jan 2 00:30:00.000
    expected_delta = (86400 + 1800) * 1000 - 30
    b = got2["2024-01-02T00:30:00"]
    assert (b.turn_count, b.lat_min_ms) == (1, expected_delta)
    # error-rate flows through the streaming aggregate
    e = got2["2024-01-02T00:40:00"]
    assert e.turn_count == 1 and e.err4xx_rate == 1.0
    # batch-1 results still present, not duplicated
    assert got2["2024-01-01T00:00:00"].turn_count == 3


def test_stream_pass_restores_shuffle_partitions(spark, tmp_path):
    """A stream pass runs with one shuffle partition per core (frozen
    into its checkpoint) and then restores the session's own setting —
    7 here, so a pass that leaves local[4]'s 4 behind is caught."""
    import json

    key = "spark.sql.shuffle.partitions"
    inp, ckpt = str(tmp_path / "turns"), str(tmp_path / "ckpt")
    _write_batch(spark, inp, _turns("a", "2024-01-01T00:00:00", [7]))
    prev = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        run_stream_once(spark, inp, ckpt, str(tmp_path / "out"))
        assert spark.conf.get(key) == "7"
    finally:
        spark.conf.set(key, prev)
    with open(f"{ckpt}/offsets/0") as f:
        meta = json.loads(f.read().splitlines()[1])
    assert meta["conf"][key] == str(spark.sparkContext.defaultParallelism)


def test_stream_sessionize_restart_state(spark, tmp_path):
    """session_window state survives a restart: a session left OPEN at
    the end of pass 1 absorbs pass-2 events within the gap and emits
    once, merged, when the watermark finally closes it."""
    from pyspark.sql import types as T

    from rollup_engine.streaming import stream_session_stats

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
        ]
    )

    def _write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(tmp_path / "events"))

    def _run():
        events = spark.readStream.schema(schema).parquet(str(tmp_path / "events"))
        sessions = stream_session_stats(events, gap_seconds=1800, by=("user_id",))
        sink_once(spark, sessions, str(tmp_path / "ckpt"), str(tmp_path / "out"))

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    # pass 1: user 1 events at 00:00 and 00:10 — session still open
    # (nothing beats the watermark, so nothing emits yet)
    _write([(1, t0, 1), (2, t0 + dt.timedelta(minutes=10), 1)])
    _run()

    # pass 2 after RESTART: +20 min continues the SAME session (gap
    # 10 min < 30); a far-future sentinel closes it via the watermark
    _write(
        [
            (3, t0 + dt.timedelta(minutes=30), 1),
            (99, t0 + dt.timedelta(days=30), 42),
        ]
    )
    _run()

    rows = [
        r
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
        if r.user_id == 1
    ]
    assert len(rows) == 1  # one merged session, not two fragments
    s = rows[0]
    assert s.n_events == 3
    assert s.session_start == t0
    assert s.session_end == t0 + dt.timedelta(minutes=30)
    assert s.duration_sec == 1800.0


def test_stream_alerts_transitions_and_restart(spark, tmp_path):
    """Hysteresis alert stream: rising at ≥100 ms, clearing below
    40 ms, hold band [40, 100).  Pass 1 sees deltas 10, 150 (rise),
    60 (hold).  Pass 2 RESTARTS and continues the conversation: the
    checkpointed alert bit + last ts must make delta 30 emit a single
    'clearing' transition — and re-delivered turns must not re-fire."""
    inp = str(tmp_path / "turns")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    _write_batch(spark, inp, _turns("a", "2024-01-01T00:00:00", [10, 150, 60]))
    alerts = stream_threshold_alerts(read_turn_stream(spark, inp), enter=100, exit=40)
    sink_once(spark, alerts, ckpt, out)
    got1 = sorted(
        (r.turn_idx, r.delta_ms, r.state, r.direction)
        for r in spark.read.parquet(out).collect()
    )
    assert got1 == [(2, 150, 1, "rising")]

    # continuation: turn 3 ended at 00:00:00.220; turn 4 thirty ms
    # later clears; turn 5 re-rises.  Also re-deliver turns 2-3 (same
    # idx) — the checkpointed last_idx must drop them.
    t3 = dt.datetime(2024, 1, 1, 0, 0, 0, 220_000)
    cont = [
        ("a", 2, "user", "x", "", dt.datetime(2024, 1, 1, 0, 0, 0, 160_000)),
        ("a", 3, "user", "x", "", t3),
        ("a", 4, "user", "x", "", t3 + dt.timedelta(milliseconds=30)),
        ("a", 5, "user", "x", "", t3 + dt.timedelta(milliseconds=230)),
    ]
    _write_batch(spark, inp, cont)
    alerts = stream_threshold_alerts(read_turn_stream(spark, inp), enter=100, exit=40)
    sink_once(spark, alerts, ckpt, out)
    got2 = sorted(
        (r.turn_idx, r.delta_ms, r.state, r.direction)
        for r in spark.read.parquet(out).collect()
    )
    assert got2 == [
        (2, 150, 1, "rising"),
        (4, 30, 0, "clearing"),
        (5, 200, 1, "rising"),
    ]


def test_stream_alerts_first_observation_above(spark, tmp_path):
    """A conversation whose very first delta is above enter fires
    rising immediately (prev state defaults to 0), matching the batch
    operator's first-row contract."""
    inp = str(tmp_path / "turns")
    _write_batch(spark, inp, _turns("b", "2024-01-01T00:00:00", [500, 10]))
    alerts = stream_threshold_alerts(read_turn_stream(spark, inp), enter=100, exit=40)
    sink_once(spark, alerts, str(tmp_path / "c"), str(tmp_path / "o"))
    got = sorted(
        (r.turn_idx, r.state, r.direction)
        for r in spark.read.parquet(str(tmp_path / "o")).collect()
    )
    assert got == [(1, 1, "rising"), (2, 0, "clearing")]


# ------------------------------------------------ input validity

def _conv_with_bad_turn(bad):
    """conv a: turns 0, 1, 3 at +0/+7/+30 ms plus the ``bad`` row, and
    a watermark conversation that closes a's minute bucket."""
    t0 = dt.datetime(2024, 1, 1)
    ms = dt.timedelta(milliseconds=1)
    return [
        ("a", 0, "user", "x", "", t0),
        ("a", 1, "user", "x", "", t0 + 7 * ms),
        bad,
        ("a", 3, "user", "x", "", t0 + 30 * ms),
    ] + _turns("wm", "2024-01-01T12:00:00", [5])


def _minute_bucket(spark, out):
    r = next(
        r for r in spark.read.parquet(out).collect()
        if r.bucket_start == dt.datetime(2024, 1, 1)
    )
    return (r.turn_count, r.lat_min_ms, r.lat_max_ms)


def test_stream_drops_null_ts_turn_like_clean(spark, tmp_path):
    """A turn with NULL ts is dropped before the stateful stage, as
    batch ``clean`` drops it — it must not reach the numpy kernel as a
    NaT and turn into a garbage delta."""
    from rollup_engine.deltas import with_deltas
    from rollup_engine.hist_rollup import hist_rollup
    from rollup_engine.transcripts import clean

    rows = _conv_with_bad_turn(("a", 2, "user", "x", "", None))
    inp, out = str(tmp_path / "turns"), str(tmp_path / "out")
    _write_batch(spark, inp, rows)
    run_stream_once(spark, inp, str(tmp_path / "ckpt"), out)

    batch = hist_rollup(
        with_deltas(clean(spark.createDataFrame(rows, TRANSCRIPT_SCHEMA))),
        "minute",
    ).where("bucket_start = timestamp'2024-01-01 00:00:00'").first()
    want = (batch.turn_count, batch.lat_min_ms, batch.lat_max_ms)
    assert want == (2, 7, 23)
    assert _minute_bucket(spark, out) == want


def test_stream_null_turn_idx_does_not_fail_the_stream(spark, tmp_path):
    """A turn with NULL turn_idx is dropped by both stateful stream
    operators (the delta rollup and the alert stream) instead of
    failing every pass on the same unprocessed file."""
    rows = _conv_with_bad_turn(
        ("a", None, "user", "x", "", dt.datetime(2024, 1, 1, 0, 0, 0, 20_000))
    )
    inp = str(tmp_path / "turns")
    _write_batch(spark, inp, rows)

    out = str(tmp_path / "out")
    run_stream_once(spark, inp, str(tmp_path / "ckpt"), out)
    assert _minute_bucket(spark, out) == (2, 7, 23)

    alerts = str(tmp_path / "alerts")
    stream = stream_threshold_alerts(read_turn_stream(spark, inp), enter=20, exit=10)
    sink_once(spark, stream, str(tmp_path / "ackpt"), alerts)
    got = sorted(
        (r.conv_id, r.turn_idx, r.delta_ms, r.direction)
        for r in spark.read.parquet(alerts).collect()
    )
    assert got == [("a", 3, 23, "rising")]


# ------------------------------------------------ shared numpy kernel

def _kernel(turn_idx, ts_ms, last_idx=None, last_us=None, split=None):
    """Run ``_extend_deltas`` over one conversation's rows (optionally
    split into two Arrow batches); returns (kept turn_idx, delta_ms,
    has_delta, new_state) or None."""
    import numpy as np
    import pandas as pd

    from rollup_engine.streaming import _extend_deltas

    t0 = np.datetime64("2024-01-01T00:00:00", "ns")
    pdf = pd.DataFrame(
        {
            "turn_idx": np.asarray(turn_idx, dtype=np.int32),
            "ts": t0 + np.asarray(ts_ms, dtype="timedelta64[ms]"),
        }
    )
    pdfs = [pdf] if split is None else [pdf.iloc[:split], pdf.iloc[split:]]
    ext = _extend_deltas(iter(pdfs), last_idx, last_us)
    if ext is None:
        return None
    out, sel, delta, has, new_state = ext
    return (
        out["turn_idx"].to_numpy()[sel].tolist(),
        delta[has].tolist(),
        has.tolist(),
        new_state,
    )


def test_extend_deltas_kernel():
    t0_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00 in epoch µs

    # first-ever turn of a conversation has no delta; an unsorted batch
    # (split across two Arrow batches) is put in turn order
    idx, delta, has, state = _kernel([2, 0, 1], [30, 0, 7], split=1)
    assert idx == [0, 1, 2]
    assert has == [False, True, True]
    assert delta == [7, 23]
    assert state == (2, t0_us + 30_000)

    # a duplicate turn_idx keeps its first occurrence and advances the
    # state once: the later copy (ts +500) neither emits nor moves ts
    idx, delta, has, state = _kernel([0, 1, 1], [0, 7, 500])
    assert idx == [0, 1]
    assert delta == [7]
    assert state == (1, t0_us + 7_000)

    # seeded from checkpointed state: the first kept turn's delta is
    # taken against the state ts; re-delivered turns at or below
    # last_idx are dropped
    idx, delta, has, state = _kernel(
        [1, 2, 3], [7, 20, 30], last_idx=2, last_us=t0_us + 19_000
    )
    assert idx == [3]
    assert has == [True]
    assert delta == [11]
    assert state == (3, t0_us + 30_000)

    # a batch of nothing but re-deliveries emits nothing and keeps state
    assert _kernel([0, 1], [0, 7], last_idx=1, last_us=t0_us) is None
