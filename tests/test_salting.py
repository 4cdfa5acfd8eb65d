"""Skew defusal: chunk-salted window deltas must equal the plain window
on hot-conversation data (fx_skew, FIXTURES.md §2)."""

from __future__ import annotations

import pandas as pd
import pytest

from rollup_engine.deltas import with_deltas
from rollup_engine.generate import synthetic_transcripts
from rollup_engine.hist_rollup import hist_rollup
from rollup_engine.salting import salted_deltas
from rollup_engine.transcripts import clean


@pytest.fixture()
def skewed(spark):
    # one conversation 200× longer than the rest
    return clean(
        synthetic_transcripts(
            spark, n_convs=30, turns_per_conv=20, hot_convs=1, hot_factor=200
        )
    ).cache()


def _sorted_pdf(df):
    return (
        df.select("conv_id", "turn_idx", "delta_ms")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )


def test_salted_deltas_equal_window_deltas(spark, skewed):
    plain = _sorted_pdf(with_deltas(skewed))
    salted = _sorted_pdf(salted_deltas(skewed, chunk_size=64))
    pd.testing.assert_frame_equal(plain, salted)


def test_salted_deltas_tiny_chunks(spark, skewed):
    """chunk_size=1: every delta comes from the boundary repair join."""
    plain = _sorted_pdf(with_deltas(skewed))
    salted = _sorted_pdf(salted_deltas(skewed, chunk_size=1))
    pd.testing.assert_frame_equal(plain, salted)


def test_salted_rollup_identical(spark, skewed):
    a = (
        hist_rollup(with_deltas(skewed), "minute")
        .drop("hist", "tier")
        .toPandas()
        .set_index("bucket_start")
        .sort_index()
    )
    b = (
        hist_rollup(salted_deltas(skewed, chunk_size=64), "minute")
        .drop("hist", "tier")
        .toPandas()
        .set_index("bucket_start")
        .sort_index()
    )
    pd.testing.assert_frame_equal(a, b)


def test_salting_handles_missing_turns(spark):
    """Gaps in turn_idx (missing turns) must not break boundary repair:
    the previous *present* turn wins, same as the window."""
    rows = [("c", i, "user", "x", "", f"2024-01-01T00:00:{i:02d}") for i in (0, 1, 3, 7, 8)]
    from .conftest import make_transcript

    df = make_transcript(spark, rows)
    plain = _sorted_pdf(with_deltas(df))
    salted = _sorted_pdf(salted_deltas(df, chunk_size=2))
    pd.testing.assert_frame_equal(plain, salted)