"""Schemas and the retention-tier registry.

Transcript input schema per BASELINE.json ``input_hint``:
``(conv_id:string, turn_idx:int, role:string, text:string, tool:string,
ts:timestamp)`` — the transcript analog of the reference's parsed
Request/Response structs (/root/reference/src/log_parser/log_events.rs:15-66).

The ``tool`` column doubles as the error channel: values prefixed
``error:4`` / ``error:5`` play the role of the reference's
ClientError4xx / ServerError5xx classes derived from the status token's
first char (/root/reference/src/log_parser/log_events.rs:105-114).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import types as T

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)


@dataclass(frozen=True)
class Tier:
    name: str
    interval: str  # Spark window() duration string
    duckdb_trunc: str  # date_trunc unit for oracle SQL
    retention_buckets: int | None  # None = keep forever


# Retention cascade: minute (hot) → hour → day (cold).  The scale knob:
# at 10^12 turns, the minute tier is the only one touching raw data; hour
# and day merge the histogram state of the tier below
# (hist_rollup.hist_cascade).
TIERS: dict[str, Tier] = {
    "minute": Tier("minute", "1 minute", "minute", retention_buckets=7 * 24 * 60),
    "hour": Tier("hour", "1 hour", "hour", retention_buckets=90 * 24),
    "day": Tier("day", "1 day", "day", retention_buckets=None),
    # Calendar tiers: variable-length buckets, so they only exist as
    # cascades of the day tier (date_trunc-based — never Spark window(),
    # whose fixed durations cannot express calendar months).  Spark and
    # DuckDB agree on both truncations (ISO Monday week start; first of
    # month), so the oracle gate is exact.
    "week": Tier("week", "7 days", "week", retention_buckets=None),
    "month": Tier("month", "1 month", "month", retention_buckets=None),
}
