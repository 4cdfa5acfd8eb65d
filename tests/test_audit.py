"""One-pass ingest-contract audit: crafted violations count exactly,
one aggregate, no shuffle beyond it."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from rollup_engine.audit import quality_audit, transcript_rules

COLS = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)
T0 = dt.datetime(2024, 1, 1)


def test_quality_audit_counts_each_rule(spark):
    rows = [
        ("c1", 0, "user", "ok", None, T0),
        (None, 1, "user", "ok", None, T0),          # null_conv_id
        ("c1", 2, "user", None, None, T0),          # null_text + empty_text
        ("c1", -3, "user", "", "error:500", T0),    # negative + empty + error
        ("c1", 4, "user", "ok", None, dt.datetime(2030, 1, 1)),  # future
    ]
    df = spark.createDataFrame(rows, COLS)
    got = {
        r.rule: (r.n_rows, r.n_violations, r.violation_rate)
        for r in quality_audit(df, transcript_rules(T0)).collect()
    }
    assert got["null_conv_id"] == (5, 1, 0.2)
    assert got["null_ts"] == (5, 0, 0.0)
    assert got["negative_turn_idx"] == (5, 1, 0.2)
    assert got["null_text"] == (5, 1, 0.2)
    assert got["empty_text"] == (5, 2, 0.4)
    assert got["error_tool"] == (5, 1, 0.2)
    assert got["future_ts"] == (5, 1, 0.2)


def test_quality_audit_single_aggregate_plan(spark):
    df = spark.createDataFrame([("c", 0, "u", "x", None, T0)], COLS)
    out = quality_audit(df, transcript_rules())
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "extended"
    ).split("== Physical Plan ==")[-1]
    # one partial+final aggregate pair, no window, no join
    assert plan.count("HashAggregate") == 2, plan
    assert "Window" not in plan and "Join" not in plan


def test_quality_audit_rejects_non_identifier_rule_names(spark):
    import pytest as _pytest

    df = spark.createDataFrame([("c", 0, "u", "x", None, T0)], COLS)
    with _pytest.raises(ValueError):
        quality_audit(df, {"bad name": F.col("text").isNull()})
    with _pytest.raises(ValueError):
        quality_audit(df, {"x'); drop": F.col("text").isNull()})
