"""Dump formatted physical plans of the flagship query paths into one
markdown page (committed as BENCH/PLANS.md) — the plan-audit artifact
behind the pytest plan pins:
what actually runs (pushdown, partial aggregation, exchange count,
WholeStageCodegen spans) on one page, regenerable any round.

Only plan-PURE queries are dumped (no stream choreography, no index
writes): building these plans runs zero to a handful of tiny setup
jobs, so the script is cheap.

    python scripts/dump_plans.py [--sf /root/testdata/sf0.001]

Writes ``.gatework/PLANS.md`` (gitignored) by default; pass ``--out
BENCH/PLANS.md`` for a record meant to be committed.
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# Curated, plan-pure flagship paths: raw pass, cascade, join family,
# gap-fill, alerting, dedup candidate generation, exactly-once ingest.
PLAN_QUERIES = [
    "rollup_minute",
    "rollup_hour_cascade",
    "pair_deltas",
    "asof_join",
    "interval_join",
    "gapfill_locf",
    "sliding_rollup",
    "burn_rate",
    "dedup_minhash_lsh",
    "ingest_upsert",
    "conv_profile",
    "tiered_history",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument(
        "--out", default=os.path.join(REPO, ".gatework", "PLANS.md")
    )
    args = ap.parse_args()

    from rollup_engine.queries import QUERIES
    from rollup_engine.session import get_spark

    spark = get_spark("plan-dump", master="local[4]")
    lines = [
        "# Physical plans — flagship paths",
        "",
        f"`spark.explain('formatted')` at {args.sf} (plan shapes are "
        "scale-independent; the pins in tests/test_plans.py assert the "
        "load-bearing properties).  Regenerate: "
        "`python scripts/dump_plans.py --out BENCH/PLANS.md`.",
    ]
    for name in PLAN_QUERIES:
        df = QUERIES[name](spark, args.sf)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        lines += ["", f"## {name}", "", "```", plan.rstrip(), "```"]
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"{len(PLAN_QUERIES)} plans -> {args.out}")


if __name__ == "__main__":
    main()
