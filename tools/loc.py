#!/usr/bin/env python3
"""Count non-blank, non-comment Scala lines.

    python3 tools/loc.py PATH [PATH ...]
    python3 tools/loc.py --rev REV PATH [PATH ...]

Each PATH is a .scala file or a directory (searched recursively for .scala
files). Prints one `<count>  <file>` line per file, then `<count>  total`.

With `--rev REV` (any git revision: a commit, `HEAD~`, a branch) it prints,
per file, its count at REV (read with `git show`, no checkout), its count in
the working tree and the difference, then the same three totals. A file
present on only one side counts 0 on the other.

A line counts when it holds at least one character that is neither
whitespace nor part of a comment. Line comments (`//`), block and doc
comments (`/* */`, `/** */`, nested as Scala allows) are skipped; comment
markers inside string literals (`"..."`, `\"\"\"...\"\"\"`) are not comments.
Character literals are not tracked: a `'"'` would open a string, so the
count is exact for code that writes `'\\"'` or avoids quote char literals.
"""
import os
import subprocess
import sys


def code_lines(text):
    """Number of lines of `text` carrying code outside comments."""
    n = 0
    depth = 0          # block-comment nesting depth
    string = None      # None, '"' or '"""'
    i = 0
    has_code = False
    L = len(text)
    while i < L:
        c = text[i]
        if c == "\n":
            if has_code:
                n += 1
            has_code = False
            i += 1
            continue
        if depth > 0:
            if text.startswith("/*", i):
                depth += 1
                i += 2
            elif text.startswith("*/", i):
                depth -= 1
                i += 2
            else:
                i += 1
            continue
        if string is not None:
            has_code = True
            if string == '"""':
                if text.startswith('"""', i):
                    string = None
                    i += 3
                else:
                    i += 1
            else:
                if c == "\\":
                    i += 2
                elif c == '"':
                    string = None
                    i += 1
                else:
                    i += 1
            continue
        if text.startswith("//", i):
            while i < L and text[i] != "\n":
                i += 1
            continue
        if text.startswith("/*", i):
            depth = 1
            i += 2
            continue
        if text.startswith('"""', i):
            string = '"""'
            has_code = True
            i += 3
            continue
        if c == '"':
            string = '"'
            has_code = True
            i += 1
            continue
        if not c.isspace():
            has_code = True
        i += 1
    if has_code:
        n += 1
    return n


def scala_files(path):
    if os.path.isfile(path):
        return [path]
    found = []
    for root, dirs, files in os.walk(path):
        dirs.sort()
        found += [os.path.join(root, f) for f in sorted(files) if f.endswith(".scala")]
    return found


def git(args, cwd):
    return subprocess.run(["git"] + args, cwd=cwd, check=True,
                          capture_output=True).stdout


def compare(rev, paths):
    """Per-file and total counts at `rev` against the working tree."""
    top = git(["rev-parse", "--show-toplevel"], ".").decode().strip()
    rels = [os.path.relpath(os.path.abspath(p), top) for p in paths]
    at_rev = {}
    for f in git(["ls-tree", "-r", "--name-only", rev, "--"] + rels, top).decode().splitlines():
        if f.endswith(".scala"):
            at_rev[f] = code_lines(git(["show", f"{rev}:{f}"], top).decode("utf-8"))
    now = {}
    for p in paths:
        for f in scala_files(p) if os.path.exists(p) else []:
            with open(f, encoding="utf-8") as fh:
                now[os.path.relpath(os.path.abspath(f), top)] = code_lines(fh.read())
    print(f"{'at ' + rev:>10}  {'now':>6}  {'diff':>6}  file")
    tb = tn = 0
    for f in sorted(set(at_rev) | set(now)):
        b, n = at_rev.get(f, 0), now.get(f, 0)
        tb, tn = tb + b, tn + n
        print(f"{b:10d}  {n:6d}  {n - b:+6d}  {f}")
    print(f"{tb:10d}  {tn:6d}  {tn - tb:+6d}  total")
    return 0


def main(argv):
    if argv[:1] == ["--rev"]:
        if len(argv) < 3:
            print(__doc__.strip(), file=sys.stderr)
            return 2
        return compare(argv[1], argv[2:])
    if not argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    total = 0
    for p in argv:
        if not os.path.exists(p):
            print(f"loc.py: no such file or directory: {p}", file=sys.stderr)
            return 2
        for f in scala_files(p):
            with open(f, encoding="utf-8") as fh:
                n = code_lines(fh.read())
            total += n
            print(f"{n:6d}  {f}")
    print(f"{total:6d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
