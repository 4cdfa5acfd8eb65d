"""spark-submit entrypoint.

Two modes, one binary — mirroring the reference CLI
(/root/reference/src/args/mod.rs:23-114) and extending it with the
engine-native tiered pipeline:

1. **Compatibility mode** (`--logs file1 [file2.gz …]`): analyze AEM
   request.log files exactly like the reference — optional `-t MINUTES`
   trailing filter and `--include/--exclude` terms, one global result,
   fanned out to terminal / Graphite / InfluxDB (same flags, same
   output bytes).
2. **Engine mode** (`--transcripts DIR [--workdir DIR]`): build the
   minute/hour/day continuous-aggregate cascade over a transcript table
   (one-shot or incremental when --workdir + --snapshot-store given).
   Both write through ``hist_rollup.write_tiers``: each coarser tier is
   cascaded from the tier file just written, not from a persisted
   finer tier, which cost more to cache than the tiers cost to build
   (see ``run_engine``).

Usage on a cluster:
    spark-submit --py-files rollup_engine.zip -m rollup_engine.job …
(package with `python -m zipfile -c rollup_engine.zip rollup_engine`).
"""

from __future__ import annotations

import argparse
import sys



def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="rollup_engine")
    p.add_argument("--logs", nargs="+", help="request.log files (compat mode)")
    p.add_argument("--transcripts", help="transcript parquet dir (engine mode)")
    p.add_argument("--snapshot-store", help="SnapshotStore root (incremental)")
    p.add_argument("--workdir", help="checkpoint/rollup workdir (incremental)")
    p.add_argument("--tiers", default="minute,hour,day")
    p.add_argument("--out", help="output dir for rollup parquet (one-shot)")
    # reference-parity flags (/root/reference/src/args/mod.rs)
    p.add_argument("-t", dest="time_filter_minutes", type=int)
    p.add_argument("--now", help="explicit 'now' for -t (determinism)")
    p.add_argument("--include", nargs="+", dest="include_terms")
    p.add_argument("--exclude", nargs="+", dest="exclude_terms")
    p.add_argument("--graphite-server")
    p.add_argument("--graphite-port", type=int, default=2003)
    p.add_argument("--graphite-prefix")
    p.add_argument("--influxdb-write-url")
    p.add_argument("--influxdb-tags")
    p.add_argument(
        "--prometheus-listen",
        metavar="HOST:PORT",
        help="serve a Prometheus pull endpoint instead of one-shot output "
        "(reference entry point 2, /root/reference/src/main.rs:30-32; "
        "each scrape recomputes over the logs with scrape-time 'now')",
    )
    p.add_argument("-q", "--quiet", action="store_true")
    p.add_argument("--cpus", type=int, default=None)
    return p


def _fan_out(result, args, epoch_seconds: int) -> None:
    from .render import GraphiteSink, InfluxDbSink, terminal_lines

    if args.graphite_server:
        GraphiteSink(
            args.graphite_server, args.graphite_port, args.graphite_prefix
        ).send(result, epoch_seconds)
    if args.influxdb_write_url:
        InfluxDbSink(args.influxdb_write_url, args.influxdb_tags).post(result)
    if not args.quiet and not (args.graphite_server or args.influxdb_write_url):
        print("\n".join(terminal_lines(result)))


def run_compat(spark, args):
    """Reference-equivalent run over request.log files.  Returns the
    HTTP server when --prometheus-listen is given, else None."""
    import datetime as dt

    from . import filters as flt
    from .log_source import COMPAT_TERM_COLUMNS, pairs_as_transcript, read_pairs
    from .render import RollupResult
    from .rollup import global_rollup

    def build_base():
        return pairs_as_transcript(read_pairs(spark, args.logs))

    base = None if args.prometheus_listen else build_base()

    def compute(now) -> RollupResult:
        # Prometheus mode re-builds the source per scrape so the file
        # listing + sizes are re-snapshotted — lines appended to a live
        # request.log between scrapes appear, exactly like the reference
        # re-running its whole pipeline per scrape
        # (http_handler/mod.rs run(&args)).  One-shot mode reads once.
        t = build_base() if base is None else base
        if args.include_terms or args.exclude_terms or args.time_filter_minutes:
            t = t.where(
                flt.conditions(
                    include=args.include_terms,
                    exclude=args.exclude_terms,
                    now=now if args.time_filter_minutes else None,
                    latest_minutes=args.time_filter_minutes,
                    term_cols=COMPAT_TERM_COLUMNS,
                )
            )
        row = global_rollup(t).collect()[0].asDict()
        result = RollupResult.from_row(row)
        return RollupResult(count=0) if result.count == 0 else result

    if args.prometheus_listen:
        from .serve import serve_prometheus

        host, _, port = args.prometheus_listen.rpartition(":")
        server = serve_prometheus(
            lambda: compute(args.now or dt.datetime.now(dt.timezone.utc)),
            address=host or "0.0.0.0",
            port=int(port),
        )
        if not args.quiet:
            print(f"prometheus endpoint on {server.server_address}")
        return server  # caller decides to block (main) or scrape (tests)

    now = args.now or dt.datetime.now(dt.timezone.utc)
    result = compute(now)
    epoch = int(
        now.timestamp()
        if hasattr(now, "timestamp")
        else dt.datetime.fromisoformat(now).timestamp()
    )
    _fan_out(result, args, epoch)


def make_tier_scraper(minute_df, minutes: int, now_fn):
    """Memoized per-minute trailing-window compute: the window edge is
    minute-quantized, so scrapes within the same minute return the
    cached result with zero Spark jobs; the first scrape of a minute
    runs ONE collect action over the (lazy) tier-merge plan."""
    from .serve import trailing_result

    memo: dict[str, object] = {}

    def compute():
        now = now_fn()
        key = str(now)[:16]  # minute resolution, matches the tier edge
        if key not in memo:
            memo.clear()  # keep exactly the current minute
            memo[key] = trailing_result(minute_df, now, minutes)
        return memo[key]

    return compute


def _serve_from_tier(spark, args, minute_df):
    """Engine-mode Prometheus endpoint: each scrape merges the trailing
    window's minute buckets (serve.trailing_result — O(minutes) reads
    of the tier, never raw data; the reference re-runs its whole
    pipeline per scrape).

    Scrape cost is O(1) driver-side: the merge plan is fully lazy (one
    collect action per compute, which AQE runs as 3 Spark jobs, one per
    query stage) and the result is memoized per minute bucket — the
    trailing window is minute-quantized, so every scrape within the
    same minute returns the cached result with ZERO Spark jobs (pinned
    by tests/test_serve.py::test_scrape_is_single_action).
    """
    import datetime as dt

    from .serve import serve_prometheus

    minutes = args.time_filter_minutes or 60

    def now_fn():
        return args.now or dt.datetime.now(dt.timezone.utc)

    compute = make_tier_scraper(minute_df, minutes, now_fn)

    host, _, port = args.prometheus_listen.rpartition(":")
    server = serve_prometheus(compute, address=host or "0.0.0.0", port=int(port))
    if not args.quiet:
        print(f"prometheus endpoint on {server.server_address}")
    return server


def run_engine(spark, args):
    """Returns the HTTP server when --prometheus-listen is given.

    With ``--out``, ``hist_rollup.write_tiers`` writes the minute tier,
    then builds each coarser tier from the tier file just written (day
    from hour when hour is asked for, else from minute), exactly as the
    incremental refresh does.  Nothing is persisted: caching the minute
    and hour tiers cost more than building them.  A write over a
    persisted plan ran every stage at the full shuffle partition count,
    which AQE did not coalesce, and the two caches were built on top.
    On a 50k-turn day of skewed turns (perfbench ``batch``, 4 vCPU,
    local[4], warm, median of 10 runs) one build took 5.2 s of CPU and
    wrote 16 / 10 / 1 files for minute / hour / day; read back, it takes
    2.4 s and writes 1 / 1 / 1.  The hist state is mergeable, so the
    rows are byte-identical.  Without ``--out`` there is no file to read
    back, and the minute and hour tiers stay persisted for ``show`` or
    the scrape endpoint.
    """
    from .deltas import with_deltas
    from .hist_rollup import (
        hist_cascade,
        hist_rollup,
        narrow_for_rollup,
        read_tier,
        write_tiers,
    )
    from .transcripts import clean

    tiers = args.tiers.split(",")
    if args.snapshot_store and args.workdir:
        from .checkpoint import SnapshotStore
        from .incremental import IncrementalRollup

        job = IncrementalRollup(SnapshotStore(args.snapshot_store), args.workdir)
        ck = job.refresh(spark)
        if not args.quiet:
            print(ck)
        if args.prometheus_listen:
            return _serve_from_tier(spark, args, job.read_rollup(spark))
        return None
    raw = spark.read.parquet(args.transcripts)
    deltas = with_deltas(clean(narrow_for_rollup(raw)))
    minute = hist_rollup(deltas, "minute")
    if args.out:
        paths = {
            t: f"{args.out}/{t}"
            for t in ("minute", "hour", "day")
            if t == "minute" or t in tiers
        }
        write_tiers(spark, minute, paths)
        if args.prometheus_listen:
            return _serve_from_tier(spark, args, read_tier(spark, paths["minute"]))
        return None
    minute.persist()
    outputs = {"minute": minute}
    if "hour" in tiers:
        outputs["hour"] = hist_cascade(minute, "hour").persist()
    if "day" in tiers:
        outputs["day"] = hist_cascade(outputs.get("hour", minute), "day")
    if args.prometheus_listen:
        return _serve_from_tier(spark, args, minute)
    if not args.quiet:
        for df in outputs.values():
            df.orderBy("bucket_start").show(20, truncate=False)
    return None


def main(argv: list[str] | None = None) -> None:
    args = build_parser().parse_args(argv)
    from .session import get_spark

    master = f"local[{args.cpus}]" if args.cpus else None
    spark = get_spark("rollup_engine_job", master=master)
    server = None
    if args.logs:
        server = run_compat(spark, args)
    elif args.transcripts or (args.snapshot_store and args.workdir):
        server = run_engine(spark, args)
    else:
        print("need --logs or --transcripts/--snapshot-store", file=sys.stderr)
        sys.exit(2)
    if server is not None:
        import threading

        threading.Event().wait()  # serve until killed


if __name__ == "__main__":
    main()
