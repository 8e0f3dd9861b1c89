#!/usr/bin/env python3
"""Loader benchmark: run one workload for one seed and print one result line.

    python3 loadbench/run.py --workload bulk_merge --seed 1 --seconds 15 --trace 0

Builds the program and the benchmark from source on first use (build.py),
then runs them in one JVM. The last line of standard output is the JSON
result; the line before it is the host context. Per-run artifacts (result,
all metrics, spans of traced runs, stack dumps of stalled loads) land in
.bench_build/loadbench/results/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

import build

WORKLOADS = ("bulk_merge", "bulk_unique", "edge_drift", "corpus_dedup")
# the whole run, build excluded, must end well inside three minutes
RUN_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default=0, type=int, choices=(0, 1))
    a = ap.parse_args()

    classes = build.build()
    build.archive(classes)
    work = build.OUT / "work" / f"{a.workload}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = build.bench_command(classes, work, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace)])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=work)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"loadbench: run exceeded {RUN_TIMEOUT_S}s and was stopped")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.exit(f"loadbench: benchmark JVM exited with {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit("loadbench: malformed result line")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
