"""Run the benchmark once per seed and summarise each end-to-end metric.

    python3 perfbench/figures.py --workloads etl-core,northstar,io --seeds 1-10

For every workload and metric it prints the median, the first and third
quartiles (``statistics.quantiles(values, n=4)``) and their distance as a
share of the median, plus the share of failed operations. Runs are made
one after another, never in parallel, so they do not disturb each other.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi) + 1)) if hi else [int(s) for s in spec.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default="etl-core,northstar,io")
    ap.add_argument("--seeds", default="1-10", help="a range 'a-b' or a list 'a,b,c'")
    ap.add_argument("--seconds", default=None, help="default: run_seconds of BENCHMARK.json")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = args.seconds or str(json.load(f)["run_seconds"])
    for workload in args.workloads.split(","):
        values: dict[str, list[float]] = {}
        attempted = failed = 0
        for seed in _seeds(args.seeds):
            out = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", workload,
                 "--seed", str(seed), "--seconds", seconds, "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, check=True,
            )
            *_, diag, last = out.stdout.strip().splitlines()
            res = json.loads(last)
            attempted += res["attempted"]
            failed += res["failed"]
            print(workload, seed, "correct" if res["correct"] else "WRONG",
                  {k: round(v["value"], 4) for k, v in res["metrics"].items()},
                  diag, flush=True)
            for name, m in res["metrics"].items():
                values.setdefault(name, []).append(m["value"])
        print(f"{workload}: failed {failed}/{attempted}")
        for name, v in values.items():
            q1, med, q3 = statistics.quantiles(v, n=4)
            med = statistics.median(v)
            print(f"{workload} {name}: median {med:.4g} q1 {q1:.4g} q3 {q3:.4g} "
                  f"spread {(q3 - q1) / med:.3f} (n={len(v)})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
