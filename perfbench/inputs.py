"""Seeded workload inputs.

Every table is a pure function of (kind, seed, size).

Transcripts come from the engine's own ``generate.synthetic_transcripts``
and are generated afresh in every run, into the run directory. They are
not reused between runs on purpose: generating runs Spark jobs in the
benchmark's JVM and warms it, so a run that found its input cached would
start its first timed op in a colder JVM than one that generated it
(measured: a 24% slower first tier build), and the two would not be
comparable.

The registry tables (events, documents, embeddings) mirror the shape of
the repository's sf0.1 test data and are built with numpy, outside the
JVM, so they are cached in ``.work/data/<kind>-s<seed>-<size>-<hash>``;
the hash covers this file, so a generator change never leaves a stale
input behind.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import time

from env import WORK

# Refresh schedule: the share of conversations that arrive whole in a
# later batch, and of each batch that is delivered again in the next.
LATE_PCT = 5
REDELIVER_PCT = 1
BATCH_MINUTES = 5
TRANSCRIPT_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def _code_hash() -> str:
    with open(os.path.abspath(__file__), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def cached(kind: str, seed: int, size: str, build) -> tuple[str, float]:
    """Path of the table, building it with ``build(tmp_dir)`` on a miss.
    Returns (path, seconds spent generating — 0 on a hit)."""
    path = os.path.join(WORK, "data", f"{kind}-s{seed}-{size}-{_code_hash()}")
    if os.path.exists(os.path.join(path, "_DONE")):
        return path, 0.0
    t0 = time.perf_counter()
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path, time.perf_counter() - t0


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(p).metadata.num_rows
        for p in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )


def _skewed_transcripts(spark, seed: int, n_turns: int, spread_minutes: int):
    from rollup_engine.generate import synthetic_transcripts

    return synthetic_transcripts(
        spark,
        n_convs=max(10, n_turns // 50),
        hot_convs=3,
        hot_factor=100,
        spread_minutes=spread_minutes,
        seed=seed,
    )


def transcripts(spark, out: str, seed: int, n_turns: int) -> float:
    """One day of skewed turns for the batch tier build, written to
    ``out``; returns the seconds spent."""
    t0 = time.perf_counter()
    _skewed_transcripts(spark, seed, n_turns, 1440).write.parquet(out)
    return time.perf_counter() - t0


def turn_stream(
    spark, out: str, seed: int, turns_per_min: int, seed_hours: int, batches: int
) -> float:
    """Turns split into delivery batches: ``batch=-1`` seeds the store,
    ``batch=k`` is appended by refresh cycle k. A row lands in the
    5-minute batch of its timestamp, except that LATE_PCT% of the
    (non-hot) conversations arrive whole 1-3 batches after their last
    turn. ``redeliver`` marks REDELIVER_PCT% of each batch, which the
    next cycle appends again. Rows that would arrive after the last
    batch are never delivered; damaged rows (null ts) go to the seed.
    Written to ``out``; returns the seconds spent."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from rollup_engine.generate import BASE_TS

    span = seed_hours * 60 + batches * BATCH_MINUTES
    t0 = time.perf_counter()
    t = _skewed_transcripts(spark, seed, turns_per_min * span, span)
    seed_end_ms = F.unix_millis(F.to_timestamp(F.lit(BASE_TS))) + F.lit(
        seed_hours * 3_600_000
    )
    by_ts = F.when(
        F.col("ts") >= F.timestamp_millis(seed_end_ms),
        F.floor((F.unix_millis("ts") - seed_end_ms) / F.lit(BATCH_MINUTES * 60_000)),
    ).otherwise(F.lit(-1))
    h = F.pmod(F.xxhash64("conv_id", F.lit(seed + 11)), F.lit(100))
    conv_no = F.regexp_extract("conv_id", r"(\d+)$", 1).cast("long")
    late = (h < F.lit(LATE_PCT)) & (conv_no >= F.lit(3))
    last = F.max(by_ts).over(Window.partitionBy("conv_id"))
    batch = F.when(late, last + F.lit(1) + F.pmod(h, F.lit(3))).otherwise(by_ts)
    redeliver = (
        F.pmod(F.xxhash64("conv_id", "turn_idx", F.lit(seed + 12)), F.lit(100))
        < F.lit(REDELIVER_PCT)
    )
    (
        t.select(
            *TRANSCRIPT_COLS,
            F.when(F.col("ts").isNull(), F.lit(-1))
            .otherwise(batch)
            .cast("int")
            .alias("batch"),
            redeliver.alias("redeliver"),
        )
        .where(F.col("batch") < F.lit(batches))
        .repartition("batch")
        .write.partitionBy("batch")
        .parquet(out)
    )
    return time.perf_counter() - t0


# --------------------------------------------------------- registry tables

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "zh", "de", "fr", "es"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def registry_tables(seed: int, sf: float) -> tuple[str, float]:
    """events / documents / embeddings at scale factor ``sf``, shaped
    like the repository's test data (sf0.1 = 100k events over January
    2024, 5k documents with ~5% near-duplicates, 2k unit vectors)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    def build(out):
        rng = np.random.default_rng(seed)
        n = int(round(1_000_000 * sf))
        base_us = 1_704_067_200_000_000  # 2024-01-01 00:00:00
        ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n)) + base_us
        users = max(10, n * 15 // 1000)
        events = pa.table(
            {
                "event_id": pa.array(np.arange(n, dtype=np.int64)),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
                "event_type": pa.array(
                    np.array(_EVENT_TYPES)[rng.integers(0, 5, n)].tolist()
                ),
                "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
                "props": pa.array(
                    [f'{{"k": {k}}}' for k in rng.integers(0, 100, n).tolist()]
                ),
            }
        )
        pq.write_table(events, os.path.join(out, "events.parquet"))

        m = int(round(50_000 * sf))
        texts = []
        for i in range(m):
            if i > 10 and rng.random() < 0.05:
                src = texts[int(rng.integers(0, i))].split()
                texts.append(" ".join(src[1:] + ["dup"]))
            else:
                k = int(rng.integers(10, 101))
                texts.append(" ".join(np.array(_WORDS)[rng.integers(0, len(_WORDS), k)]))
        docs = pa.table(
            {
                "doc_id": pa.array(np.arange(m, dtype=np.int64)),
                "text": pa.array(texts),
                "lang": pa.array(
                    np.array(_LANGS)[
                        rng.choice(5, m, p=[0.4, 0.15, 0.15, 0.15, 0.15])
                    ].tolist()
                ),
                "source": pa.array([f"src{i % 20}" for i in range(m)]),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        )
        pq.write_table(docs, os.path.join(out, "documents.parquet"))

        k = int(round(20_000 * sf))
        vecs = rng.standard_normal((k, 64)).astype(np.float32)
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        embs = pa.table(
            {
                "vec_id": pa.array(np.arange(k, dtype=np.int64)),
                "embedding": pa.ListArray.from_arrays(
                    pa.array(np.arange(0, 64 * k + 1, 64, dtype=np.int32)),
                    pa.array(vecs.reshape(-1)),
                ),
                "label": pa.array(rng.integers(0, 10, k).astype(np.int32)),
            }
        )
        pq.write_table(embs, os.path.join(out, "embeddings.parquet"))

    return cached("registry", seed, f"sf{sf:g}", build)
