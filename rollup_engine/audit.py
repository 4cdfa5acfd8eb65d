"""One-pass data-quality audit — the ingest contract check.

Before a 10^12-turn ingest builds tiers it must measure its input: how
many rows violate each invariant the engine assumes (the reference just
drops unparseable lines silently and reports nothing,
/root/reference/src/main.rs:103-107 — at scale you need the COUNT of
what was dropped, per reason, or corruption is invisible).

Scale shape: every rule is a conditional sum inside ONE aggregate over
one scan — adding a rule adds a column, not a pass.  The per-rule row
output comes from unpivoting the 1-row aggregate (driver-side explode
of one row, not a shuffle).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def quality_audit(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """Evaluate violation-predicate ``rules`` (name → boolean Column,
    True = row violates) in one aggregate; returns one row per rule:
    (rule, n_rows, n_violations, violation_rate)."""
    if not rules:
        raise ValueError("need at least one rule")
    for name in rules:
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
            raise ValueError(
                f"rule name {name!r} must be a bare identifier — it is "
                "interpolated into a stack() SQL expression"
            )
    aggs = [F.count(F.lit(1)).alias("_n")] + [
        F.sum(F.when(c, F.lit(1)).otherwise(F.lit(0))).alias(f"_v_{name}")
        for name, c in rules.items()
    ]
    row = df.agg(*aggs)
    pairs = ", ".join(f"'{name}', _v_{name}" for name in rules)
    return row.select(
        F.expr(
            f"stack({len(rules)}, {pairs}) AS (rule, n_violations)"
        ),
        F.col("_n").alias("n_rows"),
    ).select(
        "rule",
        "n_rows",
        "n_violations",
        F.round(F.col("n_violations") / F.col("n_rows"), 4).alias(
            "violation_rate"
        ),
    )


def transcript_rules(now=None) -> dict[str, Column]:
    """The engine's standing invariants over transcript rows."""
    rules = {
        "null_conv_id": F.col("conv_id").isNull(),
        "null_ts": F.col("ts").isNull(),
        "negative_turn_idx": F.col("turn_idx") < 0,
        "null_text": F.col("text").isNull(),
        "empty_text": F.coalesce(F.col("text"), F.lit("")) == "",
        "error_tool": F.col("tool").startswith("error:"),
    }
    if now is not None:
        rules["future_ts"] = F.col("ts") > F.lit(now).cast("timestamp")
    return rules

