"""Skew defusal for the per-conversation WINDOW stage.

Two different skew hazards, two mechanisms:

- hot BUCKET in the aggregate → nothing to do: ``hist_rollup``'s first
  exchange is keyed on (bucket, value), so a hot bucket's rows already
  spread across tasks (pinned by tests/test_hist_rollup.py).
- hot CONVERSATION in the window → this module.  A conversation with
  10^9 turns lands entirely in one task under
  ``Window.partitionBy(conv_id)`` — salting a *window* is harder than
  salting a join because lag() needs its predecessor row.  Solution:
  chunk each conversation by ``turn_idx // chunk_size``, window within
  (conv_id, chunk) — parallel across chunks — then repair the one
  missing delta per chunk boundary with an equi-join of chunk heads
  against the previous chunk's tail (exactly one row per chunk, so the
  repair relation is |chunks|, tiny).

Result equality with the unsalted window is pinned by
tests/test_salting.py on a hot-conversation fixture.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .deltas import DELTA_COL, delta_ms

DEFAULT_CHUNK = 100_000


def salted_deltas(
    df: DataFrame, chunk_size: int = DEFAULT_CHUNK, keep_first_turn: bool = False
) -> DataFrame:
    """``deltas.with_deltas`` semantics under conversation-chunk salting.

    Requires the cleaned transcript invariant (unique (conv_id,
    turn_idx)); delta is ts − ts(previous turn_idx *present*), matching
    the window formulation exactly.
    """
    chunked = df.withColumn(
        "_chunk", (F.col("turn_idx") / F.lit(chunk_size)).cast("long")
    )
    w = Window.partitionBy("conv_id", "_chunk").orderBy("turn_idx")
    local = chunked.withColumn(
        DELTA_COL,
        F.expr(
            delta_ms(
                "ts", "lag(ts) OVER (PARTITION BY conv_id, _chunk ORDER BY turn_idx)"
            )
        ),
    ).withColumn("_rn", F.row_number().over(w))

    # chunk tails: last turn of every NON-EMPTY (conv, chunk).  The
    # previous-present-chunk tail comes from lag over this relation
    # itself (handles turn_idx gaps that leave whole chunks empty) —
    # it is |non-empty chunks| rows, so the per-conv window is tiny
    # even for a 10^9-turn conversation.
    w_chunks = Window.partitionBy("conv_id").orderBy("_chunk")
    tails = (
        chunked.groupBy("conv_id", "_chunk")
        .agg(F.max(F.struct("turn_idx", "ts")).alias("m"))
        .select(
            "conv_id",
            "_chunk",
            F.lag(F.col("m.ts")).over(w_chunks).alias("_prev_ts"),
        )
    )
    repaired = (
        local.join(tails, ["conv_id", "_chunk"], "left")
        .withColumn(
            DELTA_COL,
            F.when(
                (F.col("_rn") == 1) & F.col("_prev_ts").isNotNull(),
                F.expr(delta_ms("ts", "_prev_ts")),
            ).otherwise(F.col(DELTA_COL)),
        )
        .drop("_chunk", "_rn", "_prev_ts")
    )
    if keep_first_turn:
        return repaired
    return repaired.where(F.col(DELTA_COL).isNotNull())
