"""refresh_serve: appends and refreshes interleaved with dashboard
scrapes against one SnapshotStore.

Set-up seeds the store with the first hours of turns and runs the first
``IncrementalRollup.refresh``. Each cycle then appends one 5-minute
batch (with late whole conversations and re-delivered turns, see
``inputs.turn_stream``), refreshes, and sends scrapes: HTTP GETs from
one client to ``serve.serve_prometheus(job.make_tier_scraper(...))``.
The simulated clock moves one minute per scrape, so every scrape misses
the scraper's per-minute memo; the window cycles through 5, 60 and 1440
minutes. Every EXPIRE_EVERY cycles ``expire_snapshots`` drops the raw
files the tiers have absorbed. The tier fits in memory, so fixed
per-op costs (planning, job launch, small-file writes) dominate.

write_cpu_ms  CPU time of one cycle's ``append`` and ``refresh``, which
              commit the batch to the tiers (median over the cycles)
read_cpu_ms   CPU time of one scrape, server and client (median)

The wall-clock figures are printed beside them: freshness (from the
``append`` call until ``refresh`` returns with the batch committed) and
scrape latency at the client.
"""

from __future__ import annotations

import datetime as dt
import http.client
import os
import statistics
import time

import inputs
import oracle
from stats import summarize

TURNS_PER_MIN = 500
SEED_HOURS = 1
# A run times a fixed number of cycles, set by --seconds at the nominal
# cycle time (about 8 s on 4 cores), so that every run times the same
# ops whatever the host's load: the JIT is still warming over the first
# cycles, and a median over a varying number of them would move with it.
CYCLE_S = 8.0
MIN_CYCLES = 3
SCRAPES_PER_CYCLE = 3
WINDOWS = (5, 60, 1440)
EXPIRE_EVERY = 2
SMOKE = {"TURNS_PER_MIN": 50}  # run.py --smoke


def cycles(seconds: float) -> int:
    return max(MIN_CYCLES, round(seconds / CYCLE_S))


def _batch(spark, src: str, k: int):
    cols = inputs.TRANSCRIPT_COLS
    df = spark.read.parquet(f"{src}/batch={k}").select(*cols)
    if k > 0:
        again = spark.read.parquet(f"{src}/batch={k - 1}").where("redeliver")
        df = df.unionByName(again.select(*cols))
    return df


def _clock(k: int) -> dt.datetime:
    """Simulated time at the end of batch k (k = -1: end of the seed)."""
    from rollup_engine.generate import BASE_TS

    base = dt.datetime.fromisoformat(BASE_TS).replace(tzinfo=dt.timezone.utc)
    return base + dt.timedelta(
        hours=SEED_HOURS, minutes=inputs.BATCH_MINUTES * (k + 1)
    )


def run(run):
    from pyspark.sql import functions as F

    from rollup_engine import job as engine_job
    from rollup_engine.checkpoint import SnapshotStore
    from rollup_engine.incremental import IncrementalRollup
    from rollup_engine.render import prometheus_exposition
    from rollup_engine.serve import serve_prometheus

    spark = run.spark
    src = os.path.join(run.run_dir, "input")
    n_cycles = cycles(run.seconds)
    run.gen_s += inputs.turn_stream(
        spark, src, run.seed, TURNS_PER_MIN, SEED_HOURS, n_cycles
    )
    state = {"now": _clock(-1), "window": 0, "render_ms": []}

    def compute():
        # runs in the HTTP server thread, so it opens its own span
        with run.tracer.span("scrape.compute"):
            result = state["scrapers"][state["window"]]()
        t = time.perf_counter()
        prometheus_exposition(result)
        state["render_ms"].append((time.perf_counter() - t) * 1000)
        return result

    t = time.perf_counter()
    store = SnapshotStore(os.path.join(run.run_dir, "store"))
    job = IncrementalRollup(store, os.path.join(run.run_dir, "rollup"))
    appended = [_batch(spark, src, -1)]
    store.append(appended[0])
    job.refresh(spark)
    run.server = serve_prometheus(compute, address="127.0.0.1", port=0)
    run.prep_s.append(time.perf_counter() - t)
    run.conn = http.client.HTTPConnection("127.0.0.1", run.server.server_address[1], timeout=120)

    def scrape():
        # the endpoint speaks HTTP/1.0, so the client reconnects per GET
        run.conn.request("GET", "/metrics")
        resp = run.conn.getresponse()
        body = resp.read()
        if resp.status != 200:
            raise RuntimeError(f"scrape returned HTTP {resp.status}")
        return body

    touched = []

    def cycle(k: int):
        """Append batch k, refresh, scrape; returns the append and refresh
        spans and the scrape bodies."""
        df = _batch(spark, src, k)
        appended.append(df)
        a = run.op("append", lambda: store.append(df), batch=k)
        r = run.op("refresh", lambda: job.refresh(spark), batch=k)
        if run.traced:
            touched.append(
                df.where(F.col("ts").isNotNull())
                .select(F.date_trunc("minute", "ts"))
                .distinct()
                .count()
                / r["result"]["metrics"]["buckets_total"]
            )
        minute = job.read_rollup(spark)
        state["scrapers"] = [
            engine_job.make_tier_scraper(minute, w, lambda: state["now"]) for w in WINDOWS
        ]
        bodies = []
        for j in range(SCRAPES_PER_CYCLE):
            state["now"] = _clock(k) + dt.timedelta(minutes=j - SCRAPES_PER_CYCLE + 1)
            state["window"] = j % len(WINDOWS)
            s = run.op("scrape", scrape, batch=k)
            bodies.append((state["now"], WINDOWS[state["window"]], s["result"]))
        if (k + 1) % EXPIRE_EVERY == 0:
            sid = r["result"]["snapshot_id"]
            run.op("expire", lambda: store.expire_snapshots(sid, sid), batch=k)
        return a, r, bodies

    writes = []
    run.timed_region()
    for k in range(n_cycles):
        a, r, bodies = cycle(k)
        writes.append((a, r))
    run.timed_region(end=True)

    check(run, job, appended, bodies)
    freshness = [a["end"] - a["start"] + r["end"] - r["start"] for a, r in writes]
    scrapes = [d * 1000 for d in run.tracer.durations("scrape")]
    write_cpu = [a["cpu_s"] + r["cpu_s"] for a, r in writes]
    run.write_cpu_ms = statistics.median(write_cpu) * 1000
    run.read_cpu_ms = statistics.median(run.tracer.cpu("scrape")) * 1000
    run.info["touched_frac"] = touched
    run.info["render_ms"] = state["render_ms"]
    for name, vals, unit in (("freshness", freshness, "s"), ("scrape", scrapes, "ms")):
        summ = summarize(vals)
        run.report[f"{name}_samples"] = (summ.pop("n"), "count")
        for q, v in summ.items():
            run.report[f"{name}_{q}_{unit}"] = (v, unit)


def check(run, job, appended, bodies) -> None:
    """The incremental tiers must equal a one-shot rollup of every turn
    appended, and the last cycle's scrape bodies must equal the
    exposition of the same window over the one-shot minute tier."""
    from functools import reduce

    from rollup_engine.deltas import with_deltas
    from rollup_engine.hist_rollup import hist_cascade, hist_rollup
    from rollup_engine.render import prometheus_exposition
    from rollup_engine.serve import trailing_result
    from rollup_engine.transcripts import clean

    spark = run.spark
    turns = reduce(lambda a, b: a.unionByName(b), appended)
    minute = hist_rollup(with_deltas(clean(turns)), "minute").persist()
    hour = hist_cascade(minute, "hour")
    oneshot = {"minute": minute, "hour": hour, "day": hist_cascade(hour, "day")}
    for tier, df in oneshot.items():
        got = job.read_rollup(spark, tier).toPandas()
        run.check(f"incremental_{tier}_vs_oneshot", oracle.compare(got, df.toPandas()))
    problems = []
    for now, window, body in bodies:
        want = prometheus_exposition(trailing_result(minute, now, window)).encode()
        if body != want:
            problems.append(f"scrape at {now} over {window} min differs")
    run.check("scrape_bodies_vs_oneshot", problems)
    minute.unpersist()


def teardown(run):
    if getattr(run, "conn", None) is not None:
        run.conn.close()
    if getattr(run, "server", None) is not None:
        run.server.shutdown()
        run.server.server_close()


def _median(spans, key):
    return statistics.median(s[key] for s in spans)


def layers(run) -> dict[str, float]:
    tr = run.tracer
    appends, refreshes, expires = tr.of("append"), tr.of("refresh"), tr.of("expire")
    computes, scrapes = tr.of("scrape.compute"), tr.of("scrape")
    out = {
        "append.s": statistics.median(tr.durations("append")),
        "append.output_mb": _median(appends, "output_mb"),
        "expire.s": statistics.median(tr.durations("expire")),
        "expire.removed_files": statistics.median(
            s["result"]["removed_files"] for s in expires
        ),
        "refresh.write_amp": statistics.median(
            r["output_mb"] / a["output_mb"] for a, r in zip(appends, refreshes)
        ),
        "refresh.touched_frac": statistics.median(run.info["touched_frac"]),
        "scrape.http_ms": statistics.median(
            (s["end"] - s["start"] - (c["end"] - c["start"])) * 1000
            for s, c in zip(scrapes, computes)
        ),
        "scrape.memo_hit_frac": sum(c["jobs"] == 0 for c in computes) / len(computes),
        "scrape.buckets_read": _median(computes, "records_read"),
        "render.exposition_ms": statistics.median(run.info["render_ms"]),
    }
    for k in ("driver_s", "jobs_s", "jobs", "tasks", "task_cpu_s", "shuffle_write_mb", "output_mb"):
        out[f"refresh.{k}"] = _median(refreshes, k)
    for k in ("driver_s", "jobs_s", "jobs"):
        out[f"scrape.{k}"] = _median(computes, k)
    return out
