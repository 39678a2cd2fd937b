#!/usr/bin/env python3
"""Print the span tree of a perfbench trace, one block per op.

    python3 tools/spans.py .bench_build/traces/crawl_dedup-seed11.json [--op N] [--jobs]
    python3 tools/spans.py --compare parent.json change.json

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

With `--compare A B` it prints one line per public call instead: the call's
query executions, jobs and milliseconds per op in trace A and in trace B
(each summed over the op's calls of that name, then averaged over the
trace's ops), and a last line for the whole op. Two traces of the same
workload and seed, one per side of a change, give the change's layer
evidence from one command.
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


def per_call(spans):
    """({call name: (query executions, jobs, ms)} per op, averaged over the
    trace's ops, with the whole op under the key None; the number of ops)."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    totals = defaultdict(lambda: [0, 0, 0.0])
    n_ops = 0
    for s in spans:
        t = totals[s["name"] if s["kind"] == "call" else None]
        if s["kind"] == "call":
            qes = [c for c in kids[s["id"]] if c["kind"] == "qe"]
            t[0] += len(qes)
            t[1] += sum(1 for c in qes for j in kids[c["id"]] if j["kind"] == "job")
            t[1] += sum(1 for c in kids[s["id"]] if c["kind"] == "job")
        elif s["kind"] == "op":
            n_ops += 1
        elif s["kind"] == "qe":
            t[0] += 1
        elif s["kind"] == "job":
            t[1] += 1
        if s["kind"] in ("call", "op"):
            t[2] += (s["end_us"] - s["start_us"]) / 1e3
    n = max(n_ops, 1)
    return {k: (v[0] / n, v[1] / n, v[2] / n) for k, v in totals.items()}, n_ops


def compare(path_a, path_b):
    sides = []
    for p in (path_a, path_b):
        with open(p) as f:
            sides.append(per_call(json.load(f)))
    (a, na), (b, nb) = sides
    print("per op, averaged over %d ops (A: %s) and %d ops (B: %s)" % (na, path_a, nb, path_b))
    print("%-28s %17s %17s %23s" % ("call", "query execs A→B", "jobs A→B", "ms A→B"))
    names = sorted(k for k in set(a) | set(b) if k is not None)
    for k in names + [None]:
        qa, ja, ma = a.get(k, (0, 0, 0.0))
        qb, jb, mb = b.get(k, (0, 0, 0.0))
        print("%-28s %7.1f → %7.1f %7.1f → %7.1f %10.1f → %10.1f" % (
            k if k is not None else "(whole op)", qa, qb, ja, jb, ma, mb))


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("spans", nargs="?", help="span file written by perfbench --trace 1")
    ap.add_argument("--op", type=int, help="print only this op")
    ap.add_argument("--jobs", action="store_true", help="print every job span")
    ap.add_argument("--compare", nargs=2, metavar=("A", "B"),
                    help="per-call query executions, jobs and ms per op, A vs B")
    args = ap.parse_args(argv)
    if args.compare:
        compare(*args.compare)
        return
    if args.spans is None:
        ap.error("a span file, or --compare A B, is required")
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
