"""Correctness checks, run outside the timed region.

``compare`` applies the registry gates' rule: same column names, same
row count, and the same multiset of rows after normalising each cell
(floats to 9 places, timestamps without zone) — an order-insensitive
hash of the sorted rows.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math

# Tier columns compared against DuckDB: the registry's standard rollup
# columns plus the exact error counters the tiers carry.
TIER_COLS = [
    "bucket_start",
    "turn_count",
    "lat_min_ms",
    "lat_max_ms",
    "lat_avg_ms",
    "lat_p50_ms",
    "lat_p90_ms",
    "lat_p99_ms",
    "lat_sum_ms",
    "err4xx_cnt",
    "err5xx_cnt",
    "err4xx_rate",
    "err5xx_rate",
]


def _cell(v):
    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT:
        return None
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 9)
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, dict):
        return tuple((k, _cell(x)) for k, x in sorted(v.items()))
    if hasattr(v, "asDict"):
        return _cell(v.asDict())
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_cell(x) for x in v)
    return v


def _rows(pdf) -> list[tuple]:
    cols = sorted(pdf.columns)
    rows = [tuple(_cell(v) for v in rec) for rec in pdf[cols].itertuples(index=False)]
    return sorted(rows, key=lambda r: tuple(str(x) for x in r))


def rows_hash(pdf) -> str:
    return hashlib.sha256(repr(_rows(pdf)).encode()).hexdigest()[:16]


def compare(got, want) -> list[str]:
    """Mismatches between two pandas frames (empty list = equal)."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns differ: {sorted(got.columns)} vs {sorted(want.columns)}"]
    problems = []
    if len(got) != len(want):
        problems.append(f"row count {len(got)} vs {len(want)}")
    a, b = _rows(got), _rows(want)
    if a != b:
        diff = [(x, y) for x, y in zip(a, b) if x != y][:2]
        problems.append(f"values differ, first {diff}")
    return problems


def duckdb_tier_sql(src: str, unit: str) -> str:
    """Direct DuckDB rollup of raw transcript parquet into one tier, with
    the engine's clean() and with_deltas() semantics spelled out."""
    return f"""
    WITH valid AS (
        SELECT * FROM read_parquet('{src}/**/*.parquet')
        WHERE ts IS NOT NULL AND conv_id IS NOT NULL
          AND turn_idx IS NOT NULL AND turn_idx >= 0
    ),
    t AS (
        SELECT * FROM valid
        QUALIFY row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY ts) = 1
    ),
    d AS (
        SELECT ts, tool,
            (epoch_us(ts) - epoch_us(LAG(ts) OVER
                (PARTITION BY conv_id ORDER BY turn_idx))) // 1000 AS delta_ms
        FROM t
    )
    SELECT date_trunc('{unit}', ts) AS bucket_start,
        COUNT(delta_ms) AS turn_count,
        MIN(delta_ms) AS lat_min_ms,
        MAX(delta_ms) AS lat_max_ms,
        CAST(FLOOR(AVG(delta_ms)) AS BIGINT) AS lat_avg_ms,
        CAST(quantile_disc(delta_ms, 0.5) AS BIGINT) AS lat_p50_ms,
        CAST(quantile_disc(delta_ms, 0.9) AS BIGINT) AS lat_p90_ms,
        CAST(quantile_disc(delta_ms, 0.99) AS BIGINT) AS lat_p99_ms,
        CAST(SUM(delta_ms) AS BIGINT) AS lat_sum_ms,
        CAST(SUM(CASE WHEN tool LIKE 'error:4%' THEN 1 ELSE 0 END) AS BIGINT) AS err4xx_cnt,
        CAST(SUM(CASE WHEN tool LIKE 'error:5%' THEN 1 ELSE 0 END) AS BIGINT) AS err5xx_cnt,
        ROUND(AVG(CASE WHEN tool LIKE 'error:4%' THEN 1.0 ELSE 0.0 END), 4) AS err4xx_rate,
        ROUND(AVG(CASE WHEN tool LIKE 'error:5%' THEN 1.0 ELSE 0.0 END), 4) AS err5xx_rate
    FROM d WHERE delta_ms IS NOT NULL
    GROUP BY 1
    """


def duckdb(sql: str, views: dict[str, str] | None = None):
    import duckdb as ddb

    con = ddb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        for name, path in (views or {}).items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        return con.sql(sql).df()
    finally:
        con.close()


def read_tier(path: str):
    cols = ", ".join(TIER_COLS)
    return duckdb(f"SELECT {cols} FROM read_parquet('{path}/*.parquet')")
