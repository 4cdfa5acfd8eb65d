"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload refresh_serve --seeds 1-10 --seconds 20

Runs the benchmark once per seed, each in a fresh process, and prints
for every end-to-end metric its median and (Q3 − Q1) / median, the
spread the BENCHMARK.json bounds are set against.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

from metrics import END_TO_END
from stats import quartile_spread


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last")
    ap.add_argument("--seconds", default="20")
    args = ap.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))
    here = os.path.dirname(os.path.abspath(__file__))
    values: dict[str, list[float]] = {k: [] for k in END_TO_END}
    for seed in range(lo, hi + 1):
        t0 = time.perf_counter()
        out = subprocess.run(
            [sys.executable, os.path.join(here, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", "0"],
            capture_output=True, text=True, cwd=os.path.dirname(here),
        )
        if out.returncode != 0:
            print(out.stderr[-3000:], file=sys.stderr)
            return out.returncode
        result = json.loads(out.stdout.strip().splitlines()[-1])
        for k in END_TO_END:
            values[k].append(result["metrics"][k]["value"])
        print(f"seed {seed}: {time.perf_counter() - t0:.1f}s wall "
              + " ".join(f"{k}={result['metrics'][k]['value']:.4g}" for k in END_TO_END),
              flush=True)
    for k, v in values.items():
        print(f"{args.workload} {k} median={statistics.median(v):.6g} "
              f"spread={quartile_spread(v):.4f} n={len(v)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
