"""Adapters that produce the canonical transcript DataFrame.

Two sources:
- ``from_events(spark, sf_dir)`` — the driver's deterministic ``events``
  parquet reshaped into the transcript schema (documented mapping below,
  mirrored 1:1 in the DuckDB oracle SQL in ``__spark_entry__.py``).
- ``rollup_engine.generate.synthetic_transcripts`` — seeded generator for
  scale/skew tests (ports the shape of the reference's
  src/test/generate_random_log.py).

Mapping events → transcripts (kept SQL-expressible for the oracle):
  conv_id  = cast(user_id as string)
  turn_idx = row_number() over (partition by user_id
                                order by ts, event_id) - 1
  role     = event_type
  text     = props
  tool     = 'error:4xx' / 'error:5xx' when event_type = 'error'
             (split deterministically on event_id % 2), else event_type
  ts       = ts
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .deltas import DELTA_COL, delta_ms


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .fanout import input_size_bytes, tune_shuffle_for_input

    path = f"{sf_dir}/events.parquet"
    # size the session's shuffle parallelism to THIS input (guide §2.2;
    # a constant 4×cores measured ~40% slower at sf1.0 — see fanout.py)
    tune_shuffle_for_input(spark, input_size_bytes(path))
    return spark.read.parquet(path)


_EVENT_ORDER = "ORDER BY _ord_ts, event_id"
_EVENT_DELTA = delta_ms(
    "CAST(_ord_ts AS TIMESTAMP)",
    f"lag(CAST(_ord_ts AS TIMESTAMP)) OVER (PARTITION BY conv_id {_EVENT_ORDER})",
)


def _event_turns(
    spark: SparkSession, sf_dir: str, lag_delta: bool = False
) -> DataFrame:
    """The events → transcripts mapping above, plus the ordering
    columns ``_ord_ts`` / ``event_id`` (callers drop them) and, with
    ``lag_delta``, ``delta_ms`` over the SAME window.

    ``ts`` is aliased to ``_ord_ts`` ONCE, below the sort, and the
    window keys on the alias: the sort then carries through this
    projection (and any filter over it), so a second window ordered by
    ``(_ord_ts, event_id)`` needs no second Sort node.
    """
    ev = load_events(spark, sf_dir)
    base = ev.select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("ts").alias("_ord_ts"),
        "event_id",
        "event_type",
        "props",
    )
    w = Window.partitionBy("conv_id").orderBy("_ord_ts", "event_id")
    # parquet TIMESTAMP_NTZ → session-TZ (UTC) instant; shift-free
    ts = F.col("_ord_ts").cast("timestamp")
    delta = [F.expr(f"{_EVENT_DELTA} AS {DELTA_COL}")] if lag_delta else []
    return base.select(
        "conv_id",
        (F.row_number().over(w) - F.lit(1)).cast("int").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.col("props").alias("text"),
        F.when(
            F.col("event_type") == "error",
            F.when(F.col("event_id") % 2 == 0, F.lit("error:4xx")).otherwise(
                F.lit("error:5xx")
            ),
        )
        .otherwise(F.col("event_type"))
        .alias("tool"),
        ts.alias("ts"),
        *delta,
        "_ord_ts",
        "event_id",
    )


def from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver testdata ``events`` → transcript schema.

    The window shuffles once on ``conv_id``; every downstream per-conv
    operator (deltas) reuses that partitioning, so the whole
    scan→turn_idx→lag pipeline is a single exchange.  The mapping
    window must key on the ALIASED string attribute, not raw
    ``user_id``: keying on user_id (or on the cast expression inline —
    Spark extracts it to an internal ``_w0`` the alias tracker cannot
    map) leaves the row_number output hash-partitioned on a key the
    downstream conv_id window cannot reuse, and the whole suite pays a
    second full-row exchange (caught by the BENCH/PLANS.md audit;
    pinned by test_from_events_single_exchange).  The cast is
    injective, so the groups — and row_number — are identical.
    """
    return _event_turns(spark, sf_dir).drop("_ord_ts", "event_id")


def events_deltas(
    spark: SparkSession, sf_dir: str, keep_first_turn: bool = False
) -> DataFrame:
    """``with_deltas(from_events(...))`` fused into ONE window pass.

    ``turn_idx`` orders each conversation by ``(ts, event_id)``, so
    ``lag(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx)`` equals
    ``lag(ts) OVER (PARTITION BY conv_id ORDER BY ts, event_id)`` —
    computing row_number and lag in the SAME window spec lets Catalyst
    plan one Sort + one Window where the generic composition pays a
    second full sort (by turn_idx) and a second Window pass over every
    row (measured in plans/r06/rollup_minute_{before,after}.txt; the
    round-6 plan has one Sort node, the round-5 plan two).  Row-for-row
    identical to the composition (pinned by
    tests/test_plans.py::test_events_deltas_fused_matches_composition).
    """
    out = _event_turns(spark, sf_dir, lag_delta=True).drop("_ord_ts", "event_id")
    if keep_first_turn:
        return out
    return out.where(F.col(DELTA_COL).isNotNull())


def events_deltas_filtered(
    spark: SparkSession, sf_dir: str, condition
) -> DataFrame:
    """``with_deltas(from_events(...).where(condition))`` without the
    re-sort after the filter.

    The filter must sit BETWEEN the two windows (turn_idx numbers the
    unfiltered conversation; deltas pair the SURVIVING turns — the
    reference's filter-then-pair order).  Ordering the lag window by
    the original ``(ts, event_id)`` instead of ``turn_idx`` is
    equivalent (turn_idx is the row_number of exactly that ordering,
    and a filter preserves it), and because Spark's alias-aware output
    ordering carries the first sort through the projection and filter,
    the lag window needs NO second Sort node — one exchange, one sort,
    two Window passes (the second over only the filtered rows).
    """
    f = _event_turns(spark, sf_dir).where(condition)
    out = f.withColumn(
        DELTA_COL,
        F.expr(delta_ms("ts", f"lag(ts) OVER (PARTITION BY conv_id {_EVENT_ORDER})")),
    ).drop("_ord_ts", "event_id")
    return out.where(F.col(DELTA_COL).isNotNull())


# The same mapping as ANSI SQL for the DuckDB oracle (__spark_entry__.py
# embeds this as a CTE).
EVENTS_TO_TRANSCRIPTS_SQL = """
    SELECT
        CAST(user_id AS VARCHAR) AS conv_id,
        CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
             - 1 AS INTEGER) AS turn_idx,
        event_type AS role,
        props AS text,
        CASE WHEN event_type = 'error'
             THEN CASE WHEN event_id % 2 = 0
                       THEN 'error:4xx' ELSE 'error:5xx' END
             ELSE event_type END AS tool,
        ts
    FROM events
"""


# The row validity rule shared by batch ``clean`` and the stream
# operators: non-NULL conv_id / turn_idx / ts and turn_idx ≥ 0.
VALID_TURN = (
    "ts IS NOT NULL AND conv_id IS NOT NULL AND turn_idx IS NOT NULL"
    " AND turn_idx >= 0"
)

# Dedupe with the SAME window partitioning the downstream lag uses
# (conv_id), ordered by (turn_idx, ts): a row survives iff it is the
# first row of its turn_idx.  Catalyst then reuses one exchange and one
# sort across clean → with_deltas (hash(conv_id) satisfies both
# windows; the (turn_idx, ts) sort is a superset of the lag's turn_idx
# ordering).
_PREV_IDX = "lag(turn_idx) OVER (PARTITION BY conv_id ORDER BY turn_idx, ts)"
_DUP = f"{_PREV_IDX} IS NOT NULL AND {_PREV_IDX} = turn_idx"


def clean(df: DataFrame) -> DataFrame:
    """Malformed-row tolerance (reference drops unparseable lines
    silently, /root/reference/src/main.rs:103-107): rows failing
    ``VALID_TURN`` are dropped; duplicate (conv_id, turn_idx) keep the
    earliest-ts row (stable ordering).
    """
    return (
        df.where(VALID_TURN)
        .withColumn("_dup", F.expr(_DUP))
        .where("NOT _dup")
        .drop("_dup")
    )
