#!/usr/bin/env python3
"""Count non-blank, non-comment Scala lines.

    python3 tools/loc.py PATH [PATH ...]

Each PATH is a .scala file or a directory (searched recursively for .scala
files). Prints one `<count>  <file>` line per file, then `<count>  total`.

A line counts when it holds at least one character that is neither
whitespace nor part of a comment. Line comments (`//`), block and doc
comments (`/* */`, `/** */`, nested as Scala allows) are skipped; comment
markers inside string literals (`"..."`, `\"\"\"...\"\"\"`) are not comments.
Character literals are not tracked: a `'"'` would open a string, so the
count is exact for code that writes `'\\"'` or avoids quote char literals.
"""
import os
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


def main(argv):
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
