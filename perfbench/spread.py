#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload ticker_stream --seeds 1 2 3 4 5

Runs perfbench/run.py once per seed and prints, for every end-to-end
metric, the values' median and the distance between their first
and third quartiles as a share of the median (statistics.quantiles with
n=4), next to the metric's bound in BENCHMARK.json. A spread under a
third of the bound is steady. Also prints each run's wall time and
their mean.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    args = ap.parse_args()
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    seconds = spec["run_seconds"]
    values = {m["name"]: [] for m in spec["end_to_end"]}
    walls = []
    for seed in args.seeds:
        t0 = time.time()
        out = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            cwd=HERE.parent, stdout=subprocess.PIPE, text=True, check=True).stdout
        walls.append(time.time() - t0)
        result = json.loads(out.strip().splitlines()[-1])
        row = {k: v["value"] for k, v in result["metrics"].items()}
        print(f"seed {seed}: wall {walls[-1]:.1f} s correct={result['correct']} failed={result['failed']} "
              + " ".join(f"{k}={v:.4g}" for k, v in row.items()), flush=True)
        for k, v in row.items():
            values[k].append(v)
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
        spread = (q3 - q1) / med if med else float("inf")
        flag = "ok" if spread < m["bound"] / 3 else "WIDE"
        print(f"{m['name']:16s} median {med:12.4f} spread {spread:.4f} "
              f"bound {m['bound']} {flag}")
    print(f"wall per run: mean {statistics.mean(walls):.1f} s, max {max(walls):.1f} s")


if __name__ == "__main__":
    main()
