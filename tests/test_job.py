"""Engine-mode one-shot job (``job.run_engine --out``): the tiers it
writes, built from the tier files just written, equal the lazy
minute → hour → day cascade over the same input, and nothing is left
cached."""

from __future__ import annotations

import os

import pytest

from rollup_engine.deltas import with_deltas
from rollup_engine.generate import synthetic_transcripts
from rollup_engine.hist_rollup import (
    TIER_SCHEMA,
    hist_cascade,
    hist_rollup,
    narrow_for_rollup,
    read_tier,
)
from rollup_engine.job import build_parser, run_engine
from rollup_engine.transcripts import clean


@pytest.fixture(scope="module")
def turns(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("job") / "turns")
    synthetic_transcripts(spark, n_convs=30, turns_per_conv=40).write.parquet(path)
    return path


def _rows(df):
    rows = df.select(TIER_SCHEMA.fieldNames()).collect()
    return sorted(rows, key=lambda r: r["bucket_start"])


def _lazy_minute(spark, turns):
    raw = spark.read.parquet(turns)
    return hist_rollup(with_deltas(clean(narrow_for_rollup(raw))), "minute")


def _run(spark, turns, out, *extra):
    spark.catalog.clearCache()  # earlier tests may leave tables cached
    argv = ["--transcripts", turns, "--out", out, "-q", *extra]
    assert run_engine(spark, build_parser().parse_args(argv)) is None


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_out_tiers_equal_lazy_cascade(spark, turns, tmp_path):
    out = str(tmp_path / "tiers")
    _run(spark, turns, out)
    assert _cache_empty(spark)
    minute = _lazy_minute(spark, turns)
    hour = hist_cascade(minute, "hour")
    want = {"minute": minute, "hour": hour, "day": hist_cascade(hour, "day")}
    for tier, df in want.items():
        got = _rows(read_tier(spark, f"{out}/{tier}"))
        assert got and got == _rows(df), tier
        assert all(r["hist"] for r in got), tier


def test_day_without_hour_cascades_from_minute(spark, turns, tmp_path):
    out = str(tmp_path / "tiers")
    _run(spark, turns, out, "--tiers", "minute,day")
    assert _cache_empty(spark)
    assert sorted(os.listdir(out)) == ["day", "minute"]
    got = _rows(read_tier(spark, f"{out}/day"))
    assert got and got == _rows(hist_cascade(_lazy_minute(spark, turns), "day"))


def test_incremental_mode_rejects_tiers(tmp_path, capsys):
    """The incremental store always holds minute → hour → day, so a
    ``--tiers`` other than that is a usage error, not silently
    ignored."""
    from rollup_engine.job import main

    argv = [
        "--snapshot-store",
        str(tmp_path / "store"),
        "--workdir",
        str(tmp_path / "work"),
        "--tiers",
        "minute",
        "-q",
    ]
    with pytest.raises(SystemExit) as exc:
        main(argv)
    assert exc.value.code == 2
    assert "--tiers" in capsys.readouterr().err
