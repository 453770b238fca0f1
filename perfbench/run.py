#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_warehouse --seed 1 --seconds 5 --trace 0

Builds the program and the benchmark's own code from source (see build.py),
then runs one workload in a fresh JVM against the production session
conf. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 the per-layer ones, and the
spans of the run are written to .bench_build/traces/.

Everything the run reads or writes stays inside the checkout, apart
from the JDK and the Spark jars it runs on.
"""
import argparse
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import build  # noqa: E402

WORKLOADS = ("etl_warehouse", "query_mix")
# a run must finish within 180 s; leave room for JVM teardown
RUN_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", metavar="TSV",
                    help="write the expected results of the workload's "
                         "outputs to TSV instead of checking them")
    a = ap.parse_args()

    try:
        build.build()
    except (subprocess.CalledProcessError, subprocess.TimeoutExpired) as e:
        sys.exit(f"run: build failed ({e})")

    work = os.path.join(build.OUT, "work", f"{a.workload}-{os.getpid()}")
    cmd = build.java_cmd(work, [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace)] +
        (["--record", a.record] if a.record else []))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        sys.exit(f"run: {a.workload} exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out)
        sys.exit(f"run: {a.workload} failed (exit {proc.returncode})")
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
