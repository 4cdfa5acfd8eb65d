"""batch: a one-shot tier build in a fresh JVM, and the tiers it writes
read back — what a spark-submit or cron user pays, and what the
dashboard or job that consumes its output pays.

The tier build (``tier_build``) is execution-bound: scan, exchange,
window and aggregate work over ~50k skewed turns. A first pass (checked,
reported as ``build_cold_s``) and WARMUP_PASSES more warm the JVM; then
a fixed number of passes, set by ``--seconds`` at the nominal time per
pass, are timed, each followed by loading its minute, hour and day
tiers into the driver (the read op), checked against DuckDB.

Traced runs add the registry query suite (``query_suite``) after the
timed passes: 14 small, planning-bound queries whose per-query layer
metrics the trace reports.

write_cpu_ms  CPU time of one tier-build pass (median over the passes)
read_cpu_ms   CPU time of loading the three tiers (median over the passes)
"""

from __future__ import annotations

import query_suite
import tier_build

# Timed passes: as many as take --seconds at PASS_S each (a pass and its
# read, on 4 idle cores), at least MIN_PASSES. A count fixed by
# the arguments (not "as many as fit" on the clock) makes every run time
# the same passes whatever the host's load. The JIT is still warming
# over them (a pass's CPU time falls 10-25% from one to the next over
# the first few), hence the untimed warm-up passes.
PASS_S = 6.0
MIN_PASSES = 3
WARMUP_PASSES = 1

# run.py --smoke: tiny inputs for the tests
SMOKE = {"tier_build.N_TURNS": 20_000, "query_suite.SF": 0.002, "WARMUP_PASSES": 0}


def run(run):
    args, want = tier_build.prepare(run)
    tier_build.cold_pass(run, args, want)
    for _ in range(WARMUP_PASSES):
        tier_build.warmup_pass(run, args)
    run.timed_region()
    for _ in range(max(MIN_PASSES, round(run.seconds / PASS_S))):
        tier_build.timed_pass(run, args, want)
    run.timed_region(end=True)
    run.write_cpu_ms, run.read_cpu_ms = tier_build.report(run)
    if run.traced:
        sf_dir, suite_want = query_suite.prepare(run)
        query_suite.run_pass(run, sf_dir, suite_want)
        query_suite.report(run)
        tier_build.prefixes(run, args.transcripts)


def teardown(run):
    pass


def layers(run) -> dict[str, float]:
    return {**tier_build.layers(run), **query_suite.layers(run)}
