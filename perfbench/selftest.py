#!/usr/bin/env python3
"""Checks of the benchmark itself.

    python3 perfbench/selftest.py

1. The plan check distinguishes a collected report, which keeps the
   z-score and islands windows, from its count(), which prunes them.
2. Every workload passes every output check (failed = 0) on two seeds,
   and its traced run prints every per-layer metric.
3. In a directory holding only BENCHMARK.json and perfbench/, the
   benchmark exits non-zero without printing a result.
Takes about seven minutes on four cores.
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import run  # noqa: E402

WORKLOADS = ["ticker_report", "ticker_stream", "corpus_curate"]


def bench(root, workload, seed, trace):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "10", "--trace", str(trace)],
        cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)


def main():
    failures = []
    jars = run.spark_jars()
    classes = run.build(jars)
    work = run.fresh_work_dir()
    try:
        print(run.run_jvm("graftbench.SelfTest", [], classes, jars, work,
                          run.RUN_TIMEOUT_S).strip())
    except SystemExit:
        failures.append("plan check")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for workload in WORKLOADS:
        for seed, trace in [(1, 0), (2, 0), (1, 1)]:
            r = bench(run.ROOT, workload, seed, trace)
            lines = r.stdout.strip().splitlines()
            ok = r.returncode == 0 and lines and json.loads(lines[-1])["failed"] == 0
            print(f"{workload} seed {seed} trace {trace}: {'ok' if ok else 'FAILED'}"
                  + (f" {lines[-1]}" if lines else ""), flush=True)
            if not ok:
                failures.append(f"{workload} seed {seed} trace {trace}")

    bare = run.WORK / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(run.ROOT / "BENCHMARK.json", bare)
    shutil.copytree(HERE, bare / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    r = bench(bare, "ticker_report", 1, 0)
    printed = any(l.startswith("{") for l in r.stdout.splitlines())
    print(f"bare directory: exit {r.returncode}, result printed: {printed}")
    if r.returncode == 0 or printed:
        failures.append("bare directory")
    shutil.rmtree(bare, ignore_errors=True)

    print("selftest " + ("passed" if not failures else f"FAILED: {failures}"))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
