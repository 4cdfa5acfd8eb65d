"""Benchmark of the rollup engine: one workload per process.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20

A run starts a local[nproc] session, builds its seeded inputs, prepares
the workload, times a fixed number of ops in a closed loop (as many as
take ``--seconds`` on 4 idle cores), checks the outputs against an
independent computation, and prints one line per metric followed by a
final JSON line
``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` tags Spark
jobs per span, writes Spark's event log and reports the per-layer
metrics. ``--workload all`` runs every workload untraced and traced,
each in a fresh process, and prints the tracing overhead.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import env  # noqa: E402
from metrics import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402
from spans import Tracer, attribute, read_event_log  # noqa: E402
from stats import failed_frac  # noqa: E402


class OpFailed(Exception):
    """A timed op raised; the workload stops its loop."""


class Run:
    """State of one workload run, handed to the workload module."""

    def __init__(self, workload: str, seed: int, seconds: float, traced: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.run_dir = os.path.join(
            env.WORK, "runs", f"{workload}-s{seed}-t{int(traced)}-{os.getpid()}"
        )
        shutil.rmtree(self.run_dir, ignore_errors=True)
        os.makedirs(self.run_dir)
        self.spark = None
        self.tracer = None
        self.gen_s = 0.0
        self.session_s = 0.0
        self.prep_s: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.report: dict[str, tuple[float, str]] = {}  # human-readable metrics
        self.write_cpu_ms = 0.0
        self.read_cpu_ms = 0.0
        self.info: dict = {}

    def timed_region(self, end: bool = False) -> None:
        """Mark the start (or end) of the timed ops; the run record gets
        the wall time between the two marks, the JVM's CPU seconds by
        kind and the seconds the host stole from the machine."""
        now = {"wall_s": time.perf_counter(), **env.jvm_cpu(self.jvm_pid)}
        if not end:
            self._region0 = now
            return
        region = {k: now[k] - self._region0[k] for k in now}
        region["start_s"] = self._region0["wall_s"] - PROCESS_START
        self.info["timed_region"] = region
        # share of the machine's CPUs the host took while the ops ran
        self.report["host_steal_frac"] = (
            region["steal_s"] / (region["wall_s"] * env.cores()),
            "frac",
        )

    def op(self, name: str, fn, **attrs):
        """Time one op inside a span; a raising op counts as failed.

        The span also gets the op's CPU seconds: ``cpu_s`` is this Python
        process plus the JVM's threads other than JIT and GC (the figure
        the end-to-end CPU metrics use), ``jit_cpu_s`` and ``gc_cpu_s``
        those threads', and ``steal_s`` the seconds the host stole from
        the machine meanwhile."""
        self.attempted += 1
        j0 = env.jvm_cpu(self.jvm_pid)
        p0 = time.process_time()
        try:
            with self.tracer.span(name, **attrs) as s:
                s["result"] = fn()
        except Exception as e:
            self.failed += 1
            self.problems.append(f"op {name} failed: {traceback.format_exc()}")
            raise OpFailed(name) from e
        p1 = time.process_time()
        j1 = env.jvm_cpu(self.jvm_pid)
        s["cpu_s"] = p1 - p0 + j1["work_s"] - j0["work_s"]
        s["jit_cpu_s"] = j1["jit_s"] - j0["jit_s"]
        s["gc_cpu_s"] = j1["gc_s"] - j0["gc_s"]
        s["steal_s"] = j1["steal_s"] - j0["steal_s"]
        return s

    def check(self, name: str, problems: list[str]) -> None:
        """A correctness check (never timed); failures count as failed ops."""
        self.info.setdefault("checks", {})[name] = problems or "ok"
        if problems:
            self.failed += 1
            self.problems.extend(f"check {name}: {p}" for p in problems)


def run_one(args) -> int:
    env.import_engine()
    mod = importlib.import_module(args.workload)
    if args.smoke:
        for name, value in mod.SMOKE.items():
            owner, _, attr = name.rpartition(".")
            setattr(importlib.import_module(owner) if owner else mod, attr, value)
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    log_dir = os.path.join(run.run_dir, "eventlog") if run.traced else None

    run.spark = env.start_session(run.run_dir, log_dir)
    run.jvm_pid = env.jvm_pid(run.spark)
    run.session_s = time.perf_counter() - PROCESS_START
    run.tracer = Tracer(run.spark.sparkContext, run.traced)
    rss = None
    try:
        run.info["env"] = env.record(run.spark)
        try:
            mod.run(run)
        except OpFailed:
            pass
        rss = env.peak_rss_mb(run.spark)
    finally:
        run.info["checked_s"] = time.perf_counter() - PROCESS_START
        mod.teardown(run)
        env.stop_session(run.spark)

    run.info["stopped_s"] = time.perf_counter() - PROCESS_START
    setup_s = run.session_s + (statistics.median(run.prep_s) if run.prep_s else 0.0)
    run.report.update(
        {
            "setup_s": (setup_s, "s"),
            "write_cpu_ms": (run.write_cpu_ms, "ms"),
            "read_cpu_ms": (run.read_cpu_ms, "ms"),
            "gen_s": (run.gen_s, "s"),
            "peak_rss_mb": (rss or 0.0, "MB"),
            "ops_failed_frac": (failed_frac(run.failed, run.attempted), "frac"),
        }
    )
    if run.traced:
        cores = env.cores()
        bad = attribute(run.tracer.spans, read_event_log(log_dir), cores)
        run.check("task_time_reconciliation", bad)
        layers = {name: 0.0 for name in PER_LAYER}
        if run.failed == 0:
            layers.update(mod.layers(run))
        metrics = {k: {"value": v, "unit": PER_LAYER[k][0]} for k, v in layers.items()}
    else:
        values = {
            "setup_s": setup_s,
            "write_cpu_ms": run.write_cpu_ms,
            "read_cpu_ms": run.read_cpu_ms,
            "peak_rss_mb": rss or 0.0,
        }
        metrics = {k: {"value": values[k], "unit": END_TO_END[k][0]} for k in END_TO_END}

    correct = run.failed == 0
    for d in os.listdir(run.run_dir):  # keep the event log, drop data
        if d != "eventlog":
            shutil.rmtree(os.path.join(run.run_dir, d), ignore_errors=True)
    run.tracer.dump(os.path.join(run.run_dir, "spans.json"))
    run.info["end_s"] = time.perf_counter() - PROCESS_START
    with open(os.path.join(run.run_dir, "record.json"), "w") as f:
        json.dump(
            {
                "workload": run.workload,
                "seed": run.seed,
                "seconds": run.seconds,
                "traced": run.traced,
                "report": run.report,
                "metrics": metrics,
                "info": run.info,
                "problems": run.problems,
            },
            f,
            indent=1,
            default=str,
        )
    for p in run.problems:
        print(f"FAILED {p}", file=sys.stderr)
    for name, (value, unit) in run.report.items():
        print(f"{run.workload} {name} {value:.6g} {unit}")
    print(f"{run.workload} run_record {os.path.relpath(run.run_dir, env.ROOT)}/record.json")
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if correct else 1


def run_all(args) -> int:
    """Every workload untraced then traced, each in its own process;
    prints the tracing overhead (traced minus untraced) per metric."""
    status = 0
    for wl in WORKLOADS:
        reports = {}
        for trace in (0, 1):
            cmd = [
                sys.executable,
                os.path.abspath(__file__),
                "--workload", wl,
                "--seed", str(args.seed),
                "--seconds", str(args.seconds),
                "--trace", str(trace),
            ]
            out = subprocess.run(cmd, capture_output=True, text=True, cwd=env.ROOT)
            sys.stdout.write(out.stdout)
            sys.stderr.write(out.stderr[-4000:] if out.returncode else "")
            status = max(status, out.returncode)
            reports[trace] = {
                line.split()[1]: float(line.split()[2])
                for line in out.stdout.splitlines()
                if line.startswith(wl + " ") and len(line.split()) == 4
            }
        for name, traced in reports[1].items():
            if name in reports[0]:
                print(f"{wl} trace_overhead.{name} {traced - reports[0][name]:+.6g}")
    return status


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for tests")
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
