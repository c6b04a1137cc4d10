#!/usr/bin/env python3
"""Benchmark entry point for the graft engine.

    python3 perfbench/run.py --workload ticker_report --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run compiles the engine
(src/main/scala) together with the harness (perfbench/src) with the
Scala compiler that ships with Spark, into .bench_build/; later runs
reuse the classes while the sources are unchanged. Each run then starts
one JVM on local[<cores>] that generates its inputs from --seed under
.bench_work/, runs the workload for --seconds, checks the outputs and
prints one JSON result as the last line of standard output.
Traces of --trace 1 runs are kept under .bench_work/traces/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORK = ROOT / ".bench_work"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    jars = sorted(Path(home, "jars").glob("*.jar")) if home else []
    if not jars:
        fail("no Spark jars found (set SPARK_HOME)")
    return jars


def sources():
    program = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not program:
        fail(f"engine sources not found under {ROOT / 'src/main/scala'}")
    return program + sorted((HERE / "src").rglob("*.scala"))


def build(jars):
    """Compiles engine and harness once per source digest; returns the class dir."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    for j in jars:
        h.update(j.name.encode())
    classes = BUILD / f"classes-{h.hexdigest()[:16]}"
    if (classes / "_BUILT").exists():
        return classes
    shutil.rmtree(BUILD, ignore_errors=True)
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True)
    cp = os.pathsep.join(map(str, jars))
    argfile = BUILD / "sources.txt"
    # relative paths: the compiler splits argument files on whitespace
    argfile.write_text("\n".join(str(p.relative_to(ROOT)) for p in srcs) + "\n")
    t0 = time.time()
    print(f"# compiling {len(srcs)} sources", flush=True)
    r = subprocess.run(
        ["java", "-Xss64m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"],
        cwd=ROOT, timeout=BUILD_TIMEOUT_S, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        fail("compilation failed")
    tmp.rename(classes)
    (classes / "_BUILT").write_text("")
    print(f"# compiled in {time.time() - t0:.1f} s", flush=True)
    return classes


def expected_metrics(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def run_jvm(main, args, classes, jars, work, budget_s):
    """Runs `main` with `args` in a JVM on local[<cores>]; returns its stdout."""
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([str(classes)] + list(map(str, jars))),
              main, "--work", str(work), "--cores", str(os.cpu_count() or 1)]
           + args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    log = work / "jvm.log"
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                             stderr=err, text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=budget_s)
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {budget_s:.0f} s; log: {log}")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if p.returncode != 0:
        sys.stderr.write(log.read_text()[-6000:])
        fail(f"benchmark JVM exited with {p.returncode}")
    return out


def fresh_work_dir():
    work = WORK / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    return work


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["ticker_report", "ticker_stream", "corpus_curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM (run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    names = expected_metrics(args.trace)
    jars = spark_jars()
    classes = build(jars)
    t0 = time.time()
    work = fresh_work_dir()
    try:
        out = run_jvm("graftbench.Main",
                      ["--workload", args.workload, "--seed", str(args.seed),
                       "--seconds", str(args.seconds), "--trace", str(args.trace)],
                      classes, jars, work, RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if not lines or not lines[-1].startswith("{"):
        fail("benchmark printed no result")
    result = json.loads(lines[-1])
    got = list(result["metrics"])
    if sorted(got) != sorted(names):
        fail(f"metrics {got} do not match BENCHMARK.json {names}")
    for line in lines[:-1]:
        print(line)
    print(f"# wall {time.time() - t0:.1f} s")
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
