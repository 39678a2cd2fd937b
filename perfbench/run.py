#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (perfbench/build.py), then runs the workload
in a fresh JVM with a fresh store and scratch root under
`.bench_build/runs/`, deleted when the run ends. The last stdout line is the
result JSON; with --trace 1 the spans are kept in `.bench_build/traces/`.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from build import BUILD_DIR, build, java_cmd  # noqa: E402

WORKLOADS = ["orders_incremental", "crawl_dedup"]
TIME_LIMIT_S = 170
HEAP = "3g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM and deletes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    classes = build(root)
    t0 = time.monotonic()
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(root, BUILD_DIR, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    spans = os.path.join(root, BUILD_DIR, "traces", f"{a.workload}-seed{a.seed}.json")
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    log_path = os.path.join(run_dir, "jvm.log")
    proc = None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(
                java_cmd(classes, "perfbench.Main",
                         [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                          run_dir, str(cores), spans],
                         HEAP, os.path.join(run_dir, "tmp")),
                cwd=root, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
            try:
                proc.wait(timeout=max(1.0, TIME_LIMIT_S - (time.monotonic() - t0)))
            except subprocess.TimeoutExpired:
                sys.exit(f"run: {a.workload} did not finish within {TIME_LIMIT_S} s")
        with open(log_path) as f:
            lines = f.read().splitlines()
        for ln in lines:
            if ln.startswith("info:"):
                print(ln)
            elif ln.startswith("check:"):
                print(ln, file=sys.stderr)
        result_path = os.path.join(run_dir, "result.json")
        if proc.returncode != 0 or not os.path.exists(result_path):
            print("\n".join(lines[-40:]), file=sys.stderr)
            sys.exit(f"run: JVM exited with code {proc.returncode} and no result")
        with open(result_path) as f:
            result = json.load(f)
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
