"""Names, units and direction of every reported metric.

BENCHMARK.json at the repository root lists the same metrics; a unit
test keeps the two in step.
"""

from __future__ import annotations

WORKLOADS = ("batch", "refresh_serve")

# The 14 headline registry queries (bench.py's HEADLINE list, frozen
# here so the benchmark does not move when that legacy script does).
HEADLINE = (
    "rollup_minute",
    "rollup_hour",
    "rollup_day",
    "rollup_global",
    "rollup_filtered",
    "rollup_hour_cascade",
    "pair_deltas",
    "percentile_exact",
    "topk_convs",
    "gapfill_locf",
    "text_features",
    "dedup_exact",
    "dedup_minhash_lsh",
    "ann_bruteforce",
)

# Reported by every workload with tracing off. ``write_cpu_ms`` and
# ``read_cpu_ms`` are the CPU time of the workload's write op and read op
# (see README.md for each workload and for why CPU time, not wall time).
END_TO_END = {
    "setup_s": ("s", "lower"),
    "write_cpu_ms": ("ms", "lower"),
    "read_cpu_ms": ("ms", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}

_SPARK = {
    "driver_s": ("s", "lower"),
    "jobs_s": ("s", "lower"),
    "jobs": ("count", "lower"),
    "tasks": ("count", "lower"),
    "task_cpu_s": ("s", "lower"),
}


def _per_layer() -> dict[str, tuple[str, str]]:
    m: dict[str, tuple[str, str]] = {}
    m.update({f"build.{k}": v for k, v in _SPARK.items()})
    m.update(
        {
            "build.gc_s": ("s", "lower"),
            "build.core_busy": ("frac", "higher"),
            "build.scan_mb": ("MB", "lower"),
            "build.shuffle_write_mb": ("MB", "lower"),
            "build.fetch_wait_s": ("s", "lower"),
            "build.spill_mb": ("MB", "lower"),
            "build.output_mb": ("MB", "lower"),
            "transcripts.clean_s": ("s", "lower"),
            "deltas.with_deltas_s": ("s", "lower"),
            "hist_rollup.minute_s": ("s", "lower"),
            "hist_rollup.cascade_s": ("s", "lower"),
            "job.write_s": ("s", "lower"),
            "append.s": ("s", "lower"),
            "append.output_mb": ("MB", "lower"),
            "expire.s": ("s", "lower"),
            "expire.removed_files": ("count", "higher"),
        }
    )
    m.update({f"refresh.{k}": v for k, v in _SPARK.items()})
    m.update(
        {
            "refresh.shuffle_write_mb": ("MB", "lower"),
            "refresh.output_mb": ("MB", "lower"),
            "refresh.write_amp": ("ratio", "lower"),
            "refresh.touched_frac": ("frac", "higher"),
            "scrape.driver_s": ("s", "lower"),
            "scrape.jobs_s": ("s", "lower"),
            "scrape.jobs": ("count", "lower"),
            "scrape.buckets_read": ("count", "lower"),
            "scrape.http_ms": ("ms", "lower"),
            "scrape.memo_hit_frac": ("frac", "higher"),
            "render.exposition_ms": ("ms", "lower"),
        }
    )
    for q in HEADLINE:
        m[f"q.{q}.plan_s"] = ("s", "lower")
        m[f"q.{q}.exec_s"] = ("s", "lower")
        m[f"q.{q}.jobs"] = ("count", "lower")
        m[f"q.{q}.shuffle_mb"] = ("MB", "lower")
    m["suite.plan_share"] = ("frac", "lower")
    return m


PER_LAYER = _per_layer()
