"""Run EVERY registry gate against its DuckDB oracle and write a full
correctness record.

The driver's CORRECTNESS_r{N}.json records only the first 50 registry
entries (observed r4: 57 registered, first 50 recorded), so gates past
the budget have no official row.  This script is the committed
completeness artifact: it executes every ``queries()`` entry at the
given scale factor, compares it to its ``oracle_sql()`` entry with the
same rows+schema+values semantics as the driver (see
tests/oracle_harness.py), and writes the record to ``--out`` (default
``.gatework/GATES_FULL.json``, gitignored; pass ``--out
GATES_FULL_r{N}.json`` to write a record meant for committing).

Usage:
    python scripts/run_all_gates.py [--sf-dir /root/testdata/sf0.01] \
        [--out GATES_FULL_r07.json] [--only name1,name2]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default=os.path.join(REPO, ".gatework", "GATES_FULL.json"))
    ap.add_argument("--only", default=None, help="comma-separated gate names")
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from oracle_harness import compare, run_oracle
    from rollup_engine.queries import ORACLES, QUERIES

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .config("spark.sql.shuffle.partitions", str(2 * int(args.cpus)))
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .appName("run_all_gates")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    names = list(QUERIES)
    if args.only:
        names = [n for n in args.only.split(",") if n in QUERIES]
    record: dict[str, dict] = {}
    t0 = time.time()
    for i, name in enumerate(names, 1):
        row = {
            "rows_match": False,
            "schema_match": False,
            "hash_match": False,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        try:
            sdf = QUERIES[name](spark, args.sf_dir)
            spdf = sdf.toPandas()
            row["spark_rows"] = len(spdf)
            if name in ORACLES:
                opdf = run_oracle(ORACLES[name], args.sf_dir)
                row["oracle_rows"] = len(opdf)
                problems = compare(sdf, opdf)
                row["rows_match"] = len(spdf) == len(opdf)
                row["schema_match"] = not any("columns differ" in p for p in problems)
                row["hash_match"] = not problems
                if problems:
                    row["err"] = "; ".join(problems)[:500]
            else:
                # rows-only check (non-SQL-expressible op)
                row["rows_match"] = row["spark_rows"] >= 0
                row["schema_match"] = True
                row["hash_match"] = None
        except Exception:
            row["err"] = traceback.format_exc(limit=3)[-500:]
        record[name] = row
        ok = row["hash_match"] if row["hash_match"] is not None else row["rows_match"]
        print(
            f"[{i}/{len(names)}] {name}: "
            f"{'PASS' if ok and not row['err'] else 'FAIL'} "
            f"(spark={row['spark_rows']} oracle={row['oracle_rows']})",
            flush=True,
        )

    n_pass = sum(
        1
        for r in record.values()
        if not r["err"] and (r["hash_match"] or r["hash_match"] is None)
    )
    out = {
        "sf_dir": args.sf_dir,
        "gates": record,
        "n_gates": len(record),
        "n_pass": n_pass,
        "elapsed_sec": round(time.time() - t0, 1),
    }
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(f"\n{n_pass}/{len(record)} gates pass -> {args.out}")
    return 0 if n_pass == len(record) else 1


if __name__ == "__main__":
    raise SystemExit(main())
