"""Inter-turn latency extraction.

The reference's unit of analysis is the RequestResponsePair and its
response-time measure (/root/reference/src/request_response_matcher/
mod.rs:25-76, /root/reference/src/analyzer/mod.rs:18-32).  Transcripts
give an explicit total order per conversation — ``(conv_id, turn_idx)``
— so the stateful FIFO pair-matcher join collapses into a window ``lag``:
no shuffle join, one exchange on ``conv_id``, deterministic regardless of
input file order (fixing the reference's stream-order dependence,
documented divergence per SURVEY.md §7.4).

This module is the one definition of that decision: ``delta_ms`` is the
arithmetic, as SQL text, that every Spark delta path uses
(``with_deltas``, the fused events windows in ``transcripts.py``,
``salting.salted_deltas``), and
``last_turns`` / ``seeded_turns`` are the conversation state and the
boundary seed that ``incremental.py`` and ``realtime.py`` stitch
batches with.  ``streaming.py`` runs the same rule in numpy.

Scale note: the window shuffles on ``conv_id`` only.  Hot conversations
(millions of turns in one conv) skew that exchange — ``salting.py``
provides the chunked two-phase variant for the aggregate path; the raw
delta stream itself is naturally bounded per conv by retention chunking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Milliseconds between a turn and the previous turn of the same
# conversation; integer (floor) ms like the reference's Duration::
# num_milliseconds (/root/reference/src/log_parser/log_events.rs:91-103).
DELTA_COL = "delta_ms"


def delta_ms(ts: str, prev_ts: str) -> str:
    """SQL text: floor milliseconds from ``prev_ts`` to ``ts`` (NULL
    when either is NULL), in exact int64 micros before the one
    division.  Both arguments are SQL expressions."""
    return (
        f"CAST(floor((unix_micros({ts}) - unix_micros({prev_ts})) / 1000)"
        " AS BIGINT)"
    )


_DELTA = delta_ms("ts", "lag(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx)")


def with_deltas(df: DataFrame, keep_first_turn: bool = False) -> DataFrame:
    """Append ``delta_ms`` = ts − lag(ts) per conversation.

    The first turn of a conversation has no predecessor → null delta
    (the analog of an unmatched request, dropped by the reference's
    inner pair-join) and is filtered out unless ``keep_first_turn``.
    """
    out = df.withColumn(DELTA_COL, F.expr(_DELTA))
    if keep_first_turn:
        return out
    return out.where(f"{DELTA_COL} IS NOT NULL")


def last_turns(df: DataFrame) -> DataFrame:
    """``(conv_id, turn_idx, ts)`` of each conversation's highest
    ``turn_idx`` — the conversation state a later batch is seeded with."""
    return (
        df.groupBy("conv_id")
        .agg(F.expr("max(struct(turn_idx, ts)) AS _m"))
        .selectExpr("conv_id", "_m.turn_idx", "_m.ts")
    )


def seeded_turns(turns: DataFrame, state: DataFrame) -> DataFrame:
    """``turns`` beyond each conversation's ``state`` row, plus the
    state rows themselves as seeds (NULL in every other column).

    ``with_deltas`` over the result gives the first new turn of a
    conversation its delta across the batch boundary; a seed sorts
    first in its conversation, so it has no predecessor and emits no
    delta of its own.  Turns at or below the state ``turn_idx`` are
    dropped first: under at-least-once delivery they were already
    counted, and an equal ``turn_idx`` would tie with the seed in the
    lag order.  ``last_turns`` over the result is the next state.
    """
    seeds = state.selectExpr("conv_id", "turn_idx", "ts")
    fresh = (
        turns.join(
            seeds.selectExpr("conv_id", "turn_idx AS _seen_idx"), "conv_id", "left"
        )
        .where("_seen_idx IS NULL OR turn_idx > _seen_idx")
        .drop("_seen_idx")
    )
    return fresh.unionByName(seeds, allowMissingColumns=True)
