"""The registry query suite phase of the ``batch`` workload: the 14
headline registry queries over seeded registry tables
(``inputs.registry_tables``), each query's result collected to the
driver and checked against its DuckDB oracle.

It runs once, in traced ``batch`` runs, after the tier build has warmed
the JVM. At this size a query's time is mostly driver-side planning and
job launch, and the suite covers the operator families the roadmap
rewrites (percentiles, dedup, ANN, gap-fill).
"""

from __future__ import annotations

import os

import inputs
import oracle
from metrics import HEADLINE
from stats import geomean

SF = 0.01


def prepare(run) -> tuple[str, dict]:
    """Seeded registry tables (cached) and the DuckDB oracle result of
    every query; returns the tables' directory and the oracle results."""
    from rollup_engine.queries import ORACLES

    sf_dir, gen_s = inputs.registry_tables(run.seed, SF)
    run.gen_s += gen_s
    views = {
        t: os.path.join(sf_dir, f"{t}.parquet")
        for t in ("events", "documents", "embeddings")
    }
    return sf_dir, {q: oracle.duckdb(ORACLES[q], views) for q in HEADLINE}


def run_pass(run, sf_dir: str, want: dict) -> None:
    """Each query collected to the driver (as the registry gates do) in a
    timed op, then compared with its oracle result outside it."""
    from rollup_engine.queries import QUERIES

    spark = run.spark

    def collect(q):
        if not run.traced:
            return QUERIES[q](spark, sf_dir).toPandas()
        # plan_s: force the physical plan before the action
        with run.tracer.span(f"q.{q}.plan"):
            df = QUERIES[q](spark, sf_dir)
            df._jdf.queryExecution().executedPlan()
        with run.tracer.span(f"q.{q}.exec"):
            return df.toPandas()

    for q in HEADLINE:
        got = run.op(f"q.{q}", lambda: collect(q))["result"]
        run.check(q, oracle.compare(got, want[q]))


def report(run) -> None:
    """Reports the suite's wall and CPU times."""
    times = {q: run.tracer.durations(f"q.{q}")[0] for q in HEADLINE}
    cpu = {q: run.tracer.cpu(f"q.{q}")[0] for q in HEADLINE}
    run.info["query_s"] = times
    run.info["query_cpu_s"] = cpu
    run.report.update(
        {
            "suite_total_s": (sum(times.values()), "s"),
            "suite_geomean_s": (geomean(list(times.values())), "s"),
            "suite_geomean_cpu_s": (geomean(list(cpu.values())), "s"),
        }
    )


def layers(run) -> dict[str, float]:
    out = {}
    plan_total = exec_total = 0.0
    for q in HEADLINE:
        (plan,), (exe,), (whole,) = (run.tracer.of(f"q.{q}{p}") for p in (".plan", ".exec", ""))
        plan_s = plan["end"] - plan["start"]
        exec_s = exe["end"] - exe["start"]
        plan_total += plan_s
        exec_total += exec_s
        out[f"q.{q}.plan_s"] = plan_s
        out[f"q.{q}.exec_s"] = exec_s
        out[f"q.{q}.jobs"] = plan["jobs"] + exe["jobs"] + whole["jobs"]
        out[f"q.{q}.shuffle_mb"] = (
            plan["shuffle_write_mb"] + exe["shuffle_write_mb"] + whole["shuffle_write_mb"]
        )
    out["suite.plan_share"] = plan_total / (plan_total + exec_total)
    return out
