"""The tier build phase of the ``batch`` workload: the engine-mode
one-shot job ``job.run_engine --out``.

narrow_for_rollup → transcripts.clean → deltas.with_deltas →
hist_rollup (minute) → hist_cascade (hour, then day) → parquet write,
over a day of skewed turns (3 hot conversations at 100× the typical
length). Most of a pass is scan, exchange, window and aggregate
execution. The first pass in the fresh JVM (what a spark-submit or cron
user pays, reported as ``build_cold_s``) warms the JVM and is checked
against DuckDB; after untimed warm-up passes the timed passes follow,
each followed by loading its three tiers into the driver (the read op),
which are checked too.
"""

from __future__ import annotations

import os
import statistics
import time

import inputs
import oracle

N_TURNS = 50_000
PREP_REPS = 3
TIERS = ("minute", "hour", "day")


def prepare(run):
    """Generates the input; returns the job arguments and the DuckDB
    rollup of each tier of that input."""
    from rollup_engine import job

    src = os.path.join(run.run_dir, "input")
    run.gen_s += inputs.transcripts(run.spark, src, run.seed, N_TURNS)
    run.report["input_turns"] = (inputs.parquet_rows(src), "count")
    out = os.path.join(run.run_dir, "tiers")
    for _ in range(PREP_REPS):
        t = time.perf_counter()
        args = job.build_parser().parse_args(["--transcripts", src, "--out", out, "-q"])
        run.spark.read.parquet(src).schema  # listing + footer read
        run.prep_s.append(time.perf_counter() - t)
    want = {tier: oracle.duckdb(oracle.duckdb_tier_sql(src, tier)) for tier in TIERS}
    return args, want


def _build(run, args):
    from rollup_engine import job

    job.run_engine(run.spark, args)
    run.spark.catalog.clearCache()  # run_engine leaves minute and hour persisted


def cold_pass(run, args, want) -> None:
    """The first pass, which warms the JVM; its tiers are read back with
    DuckDB and checked."""
    run.op("build.cold", lambda: _build(run, args))
    for tier in TIERS:
        got = oracle.read_tier(os.path.join(args.out, tier))
        run.check(f"cold_{tier}_tier_vs_duckdb", oracle.compare(got, want[tier]))


def _load(run, args) -> dict:
    """The three tiers loaded into the driver, as a consumer of the job's
    output would."""
    return {t: run.spark.read.parquet(os.path.join(args.out, t)).toPandas() for t in TIERS}


def warmup_pass(run, args) -> None:
    run.op("build.warmup", lambda: _build(run, args))
    run.op("read.warmup", lambda: _load(run, args))


def timed_pass(run, args, want) -> None:
    """A tier build, then its three tiers loaded (the read op) and
    checked."""
    run.op("build", lambda: _build(run, args))
    got = run.op("read", lambda: _load(run, args))["result"]
    for tier in TIERS:
        run.check(f"{tier}_tier_vs_duckdb", oracle.compare(got[tier][oracle.TIER_COLS], want[tier]))


def prefixes(run, src: str):
    """Force each prefix of the pipeline to the noop sink; the marginal
    time of a module is its prefix minus the one before."""
    from rollup_engine.deltas import with_deltas
    from rollup_engine.hist_rollup import hist_cascade, hist_rollup, narrow_for_rollup
    from rollup_engine.transcripts import clean

    spark = run.spark

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def scan():
        return narrow_for_rollup(spark.read.parquet(src))

    def cascade():
        minute = hist_rollup(with_deltas(clean(scan())), "minute").persist()
        hour = hist_cascade(minute, "hour").persist()
        for df in (minute, hour, hist_cascade(hour, "day")):
            noop(df)
        spark.catalog.clearCache()

    steps = {
        "scan": lambda: noop(scan()),
        "transcripts.clean": lambda: noop(clean(scan())),
        "deltas.with_deltas": lambda: noop(with_deltas(clean(scan()))),
        "hist_rollup.minute": lambda: noop(
            hist_rollup(with_deltas(clean(scan())), "minute")
        ),
        "hist_rollup.cascade": cascade,
    }
    for name, fn in steps.items():
        run.op(f"prefix:{name}", fn)


def report(run) -> tuple[float, float]:
    """Reports the build; returns the median CPU time in ms of a timed
    pass and of reading its tiers."""
    cold = run.tracer.durations("build.cold")[0]
    warm = statistics.median(run.tracer.durations("build"))
    cpu = statistics.median(run.tracer.cpu("build"))
    run.report.update(
        {
            "build_cold_s": (cold, "s"),
            "build_warm_p50_s": (warm, "s"),
            "build_warm_cpu_p50_s": (cpu, "s"),
            "build_warm_passes": (len(run.tracer.of("build")), "count"),
            "build_turns_per_s": (run.report["input_turns"][0] / warm, "1/s"),
            "tier_read_p50_ms": (statistics.median(run.tracer.durations("read")) * 1000, "ms"),
        }
    )
    return cpu * 1000, statistics.median(run.tracer.cpu("read")) * 1000


def layers(run) -> dict[str, float]:
    warm = run.tracer.of("build")
    out = {}
    for k in (
        "driver_s", "jobs_s", "jobs", "tasks", "task_cpu_s", "gc_s", "core_busy",
        "scan_mb", "shuffle_write_mb", "fetch_wait_s", "spill_mb", "output_mb",
    ):
        out[f"build.{k}"] = statistics.median(s[k] for s in warm)

    def t(name):
        return statistics.median(run.tracer.durations(f"prefix:{name}"))

    build_s = statistics.median(s["end"] - s["start"] for s in warm)
    out.update(
        {
            "transcripts.clean_s": t("transcripts.clean") - t("scan"),
            "deltas.with_deltas_s": t("deltas.with_deltas") - t("transcripts.clean"),
            "hist_rollup.minute_s": t("hist_rollup.minute") - t("deltas.with_deltas"),
            "hist_rollup.cascade_s": t("hist_rollup.cascade") - t("hist_rollup.minute"),
            "job.write_s": build_s - t("hist_rollup.cascade"),
        }
    )
    return out
