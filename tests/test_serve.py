"""Serve layer: trailing-window results merged from the minute tier
(reference's -t query without touching raw data) + Prometheus pull
endpoint over HTTP."""

from __future__ import annotations

import datetime as dt
import urllib.request

import pytest

from rollup_engine.deltas import with_deltas
from rollup_engine.hist_rollup import hist_rollup
from rollup_engine.serve import serve_prometheus, trailing_result

from .conftest import make_transcript, spark_work, ts_seq


def _minute_tier(spark):
    rows = []
    for conv, base, deltas in (
        ("a", "2024-01-01T00:00:00", [7, 10]),   # bucket :00
        ("b", "2024-01-01T00:05:00", [100]),     # bucket :05
        ("c", "2024-01-01T00:30:00", [1, 1000]), # bucket :30
    ):
        times = ts_seq(base, deltas)
        rows += [
            (conv, i, "user", "x", "error:4xx" if conv == "b" else "", t)
            for i, t in enumerate(times)
        ]
    return hist_rollup(with_deltas(make_transcript(spark, rows)), "minute")


def test_trailing_window_merges_buckets(spark):
    tier = _minute_tier(spark)
    # window [00:21, 00:31] → only conv c's bucket
    r = trailing_result(tier, dt.datetime(2024, 1, 1, 0, 31), 10)
    assert (r.count, r.min, r.max) == (2, 1, 1000)
    # window covering everything
    r = trailing_result(tier, dt.datetime(2024, 1, 1, 1, 0), 120)
    assert r.count == 5
    assert r.min == 1 and r.max == 1000
    assert r.median == 10  # nearest-rank over [1,7,10,100,1000]
    assert r.client_error_4xx == pytest.approx(0.2)


def test_trailing_window_exact_edge(spark):
    """With raw turns supplied, the cutoff bucket is re-rolled exactly:
    a window boundary falling INSIDE bucket :00 (at 00:00:05) must drop
    conv a's deltas at :00.007/:00.017 but the bucket-granular merge
    keeps them."""
    rows = []
    for conv, base, deltas in (
        ("a", "2024-01-01T00:00:00", [7, 10]),    # ts ≤ 00:00:00.017
        ("c", "2024-01-01T00:00:30", [1, 1000]),  # ts ≥ 00:00:30
    ):
        times = ts_seq(base, deltas)
        rows += [(conv, i, "user", "x", "", t) for i, t in enumerate(times)]
    raw = make_transcript(spark, rows)
    tier = hist_rollup(with_deltas(raw), "minute")
    now = dt.datetime(2024, 1, 1, 0, 5, 5)
    window_min = 5  # cutoff = 00:00:05, inside bucket :00
    approx = trailing_result(tier, now, window_min)
    assert approx.count == 4  # bucket-granular keeps conv a
    exact = trailing_result(tier, now, window_min, raw_turns=raw)
    assert exact.count == 2  # conv a's deltas fall before the cutoff
    assert (exact.min, exact.max) == (1, 1000)


def test_trailing_window_empty(spark):
    tier = _minute_tier(spark)
    r = trailing_result(tier, dt.datetime(2024, 2, 1), 5)
    assert r.count == 0 and not r.has_timing


def test_prometheus_endpoint(spark):
    tier = _minute_tier(spark).cache()
    calls = []

    def compute():
        calls.append(1)
        return trailing_result(tier, dt.datetime(2024, 1, 1, 1, 0), 120)

    server = serve_prometheus(compute)
    try:
        port = server.server_address[1]
        body = urllib.request.urlopen(
            f"http://127.0.0.1:{port}/metrics", timeout=30
        ).read().decode()
        assert "request_count 5\n" in body
        assert "request_time_median 10\n" in body
        # scrape again — recompute per scrape (reference behavior), but
        # against the tier, not raw data
        urllib.request.urlopen(f"http://127.0.0.1:{port}/metrics", timeout=30).read()
        assert len(calls) == 2
    finally:
        server.shutdown()

def test_cli_engine_prometheus_from_tier(spark, tmp_path):
    """Engine-mode --prometheus-listen serves trailing-window metrics
    merged FROM THE MINUTE TIER (no raw re-read per scrape)."""
    from rollup_engine.generate import synthetic_transcripts
    from rollup_engine.job import build_parser, run_engine

    t = synthetic_transcripts(spark, n_convs=20, turns_per_conv=20)
    t.write.mode("overwrite").parquet(str(tmp_path / "turns"))
    max_ts = t.agg({"ts": "max"}).first()[0]
    args = build_parser().parse_args(
        [
            "--transcripts", str(tmp_path / "turns"),
            "--out", str(tmp_path / "rollups"),
            "--prometheus-listen", "127.0.0.1:0",
            "--now", str(max_ts),
            "-t", "100000",
            "-q",
        ]
    )
    server = run_engine(spark, args)
    try:
        port = server.server_address[1]
        body = urllib.request.urlopen(
            f"http://127.0.0.1:{port}/metrics", timeout=60
        ).read().decode()
        assert "request_count" in body
        count = int(
            [l for l in body.splitlines() if l.startswith("request_count ")][0]
            .split()[1]
        )
        assert count > 0
    finally:
        server.shutdown()


def test_scrape_is_single_action(spark):
    """O(1)-driver scrapes (round-2 verdict item 6): the first scrape
    of a minute runs exactly one collect action over the lazy tier-merge
    plan (plan build runs zero jobs) — 3 Spark jobs under AQE, one per
    query stage — and every further scrape within the same minute runs
    ZERO Spark jobs (memoized)."""
    from rollup_engine.job import make_tier_scraper

    tier = _minute_tier(spark).persist()
    tier.count()  # warm the tier cache (the serving deployment state)
    compute = make_tier_scraper(
        tier, 120, lambda: dt.datetime(2024, 1, 1, 1, 0)
    )
    r1, first = spark_work(spark, compute)[:2]
    r2, second = spark_work(spark, compute)[:2]
    tier.unpersist()
    assert r1 is r2 and r1.count == 5
    assert len(first) == 3           # the one collect action under AQE
    assert second == [], f"memoized scrape ran jobs: {second}"


def test_next_minute_scrape_reuses_merge_code(spark, tmp_path):
    """A scrape one minute after a warm one compiles only its window
    filter: the merge-all key is a constant, not the scrape's ``now``
    (a timestamp literal lands in the generated Java, so a ``now`` key
    compiled 7 new classes per scrape minute).  The exposition is the
    one the ``now``-keyed merge gives over the same tier."""
    from pyspark.sql import functions as F

    from rollup_engine.hist_rollup import hist_cascade
    from rollup_engine.render import RollupResult, prometheus_exposition

    path = str(tmp_path / "minute")
    _minute_tier(spark).write.parquet(path)
    tier = spark.read.parquet(path)
    now = dt.datetime(2024, 1, 1, 1, 0)
    trailing_result(tier, now, 120)  # warm
    later = now + dt.timedelta(minutes=1)
    work = spark_work(spark, lambda: trailing_result(tier, later, 120))
    got, compiles = work.result, work.compiles
    assert compiles <= 2

    ts_now = F.lit(later).cast("timestamp")
    now_keyed = hist_cascade(
        tier.where(
            (F.col("bucket_start") >= F.date_trunc(
                "minute", ts_now - F.expr("INTERVAL 120 MINUTES")))
            & (F.col("bucket_start") <= ts_now)
        ).withColumn("bucket_start", F.date_trunc("minute", ts_now)),
        "minute",
    ).collect()
    assert got.count == 5
    assert prometheus_exposition(got) == prometheus_exposition(
        RollupResult.from_row(now_keyed[0])
    )
