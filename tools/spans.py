#!/usr/bin/env python3
"""Print the span tree of a perfbench trace, one block per op.

    python3 tools/spans.py .bench_build/traces/crawl_dedup-seed11.json [--op N] [--jobs]

A span file is what `perfbench/run.py --trace 1` writes: a JSON list of
spans {id, parent, op, kind, name, start_us, end_us}, where kind is `op`,
`call` (a public call of the program), `qe` (a Spark SQL query execution)
or `job` (a Spark job). Each op prints as a tree, op -> call -> query
execution -> job, children in start order, every line carrying the span's
duration in milliseconds, its offset from the op's start, and its self
time (duration minus the part of it its children cover).

Below each call, a summary line counts its query executions and jobs. With
`--jobs` the job lines are printed too; without it they are folded into
their parent's count, which keeps a 25-job op readable.
"""
import argparse
import json
import sys
from collections import defaultdict


def covered(children, lo, hi):
    """Length of the union of the children's intervals, clipped to [lo, hi]."""
    total, reach = 0, lo
    for s in sorted(children, key=lambda c: c["start_us"]):
        a, b = max(s["start_us"], reach), min(s["end_us"], hi)
        if b > a:
            total += b - a
            reach = b
    return total


def render(span, kids, op_start, show_jobs, depth, out):
    children = sorted(kids[span["id"]], key=lambda c: c["start_us"])
    dur = span["end_us"] - span["start_us"]
    self_us = dur - covered(children, span["start_us"], span["end_us"])
    label = span["name"] if span["kind"] != "op" else "op %d" % span["op"]
    out.append("%s%-*s %9.1f ms  @%8.1f  self %8.1f" % (
        "  " * depth, 44 - 2 * depth, label, dur / 1e3,
        (span["start_us"] - op_start) / 1e3, self_us / 1e3))
    if span["kind"] == "call":
        qes = [c for c in children if c["kind"] == "qe"]
        jobs = [j for c in qes for j in kids[c["id"]] if j["kind"] == "job"]
        jobs += [c for c in children if c["kind"] == "job"]
        out.append("%s(%d query executions, %d jobs)" % (
            "  " * (depth + 1), len(qes), len(jobs)))
    for c in children:
        if c["kind"] == "job" and not show_jobs:
            continue
        render(c, kids, op_start, show_jobs, depth + 1, out)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("spans", help="span file written by perfbench --trace 1")
    ap.add_argument("--op", type=int, help="print only this op")
    ap.add_argument("--jobs", action="store_true", help="print every job span")
    args = ap.parse_args(argv)
    with open(args.spans) as f:
        spans = json.load(f)
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    ops = sorted((s for s in spans if s["kind"] == "op"), key=lambda s: s["op"])
    if args.op is not None:
        ops = [s for s in ops if s["op"] == args.op]
        if not ops:
            sys.exit("no op %d in %s" % (args.op, args.spans))
    for op in ops:
        out = []
        render(op, kids, op["start_us"], args.jobs, 0, out)
        under = [s for s in spans if s["op"] == op["op"]]
        out.append("  total: %d calls, %d query executions, %d jobs" % tuple(
            sum(1 for s in under if s["kind"] == k) for k in ("call", "qe", "job")))
        print("\n".join(out))
        print()


if __name__ == "__main__":
    main()
