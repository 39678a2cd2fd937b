#!/usr/bin/env python3
"""Print what a TableStore root holds, one line per table, from the parquet footers.

    python3 tools/store_census.py <store root>

For each table (a directory under the root), the line gives its data files,
their bytes, the rows their footers record and the codec mix: how many files
carry each column-chunk codec (`ZSTD:12 SNAPPY:3`; a file whose chunks mix
codecs counts as `SNAPPY+ZSTD`, a file with no row group as `-`). Data files
follow Spark's rule: names starting with `_` or `.` are sidecars, except a
`_` name holding `=`, which is a hive partition dir.

Stage dirs are listed after the tables, one line each: every generation
under `.publish/<table>/` (rows written by `TableStore.stage`, not yet
published or swept), and the `.staging_*` / `.trash_*` dirs an overwrite
leaves only while it runs or after a crash. The store writes zstd; snappy
files are ones an older writer left, and they stay until the next overwrite
or compaction of their table rewrites them.
"""
import argparse
import os
import sys
from collections import Counter

import pyarrow.parquet as pq


def data_files(d):
    """Data files under d, recursively, by Spark's sidecar rule."""
    out = []
    for name in sorted(os.listdir(d)):
        if (name.startswith("_") and "=" not in name) or name.startswith("."):
            continue
        p = os.path.join(d, name)
        if os.path.isdir(p):
            out.extend(data_files(p))
        else:
            out.append(p)
    return out


def census(d):
    """(files, bytes, rows, Counter of codec labels) of the data files under d."""
    files = data_files(d)
    rows, codecs = 0, Counter()
    for f in files:
        md = pq.ParquetFile(f).metadata
        rows += md.num_rows
        seen = {md.row_group(i).column(j).compression
                for i in range(md.num_row_groups)
                for j in range(md.row_group(i).num_columns)}
        codecs["+".join(sorted(seen)) or "-"] += 1
    return len(files), sum(os.path.getsize(f) for f in files), rows, codecs


def stage_dirs(root):
    """Every stage dir under root, as paths relative to it."""
    out = []
    pub = os.path.join(root, ".publish")
    if os.path.isdir(pub):
        for table in sorted(os.listdir(pub)):
            for gen in sorted(os.listdir(os.path.join(pub, table))):
                out.append(os.path.join(".publish", table, gen))
    out.extend(n for n in sorted(os.listdir(root))
               if n.startswith((".staging_", ".trash_")))
    return out


def line(name, c, width):
    files, size, rows, codecs = c
    mix = " ".join("%s:%d" % kv for kv in sorted(codecs.items()))
    return "%-*s %6d %12d %10d  %s" % (width, name, files, size, rows, mix)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("root", help="the store root (a local directory)")
    args = ap.parse_args()
    root = args.root[len("file:"):] if args.root.startswith("file:") else args.root
    if not os.path.isdir(root):
        sys.exit("store_census: no directory %s" % root)
    tables = [n for n in sorted(os.listdir(root))
              if not n.startswith((".", "_")) and os.path.isdir(os.path.join(root, n))]
    stages = stage_dirs(root)
    width = max([len(n) for n in tables + stages] + [5])
    print("%-*s %6s %12s %10s  %s" % (width, "table", "files", "bytes", "rows", "codecs"))
    total = [0, 0, 0, Counter()]
    for n in tables:
        c = census(os.path.join(root, n))
        print(line(n, c, width))
        for i in range(3):
            total[i] += c[i]
        total[3] += c[3]
    print(line("total", total, width))
    if stages:
        print()
        print("%-*s %6s %12s %10s  %s" % (width, "stage", "files", "bytes", "rows", "codecs"))
        for n in stages:
            print(line(n, census(os.path.join(root, n)), width))


if __name__ == "__main__":
    main()
