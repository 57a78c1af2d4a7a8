#!/usr/bin/env python3
"""Code, comment and blank line counts per Scala file.

Usage: python3 tools/loc.py [path ...]   (files or directories; default src)
Scaladoc, /* */ block and // lines count as comments; a line holding code
and a trailing comment counts as code.
"""
import os
import sys


def count(path):
    code = comment = blank = 0
    in_block = False
    with open(path, encoding="utf-8") as fh:
        for line in fh.read().splitlines():
            s = line.strip()
            if not s:
                blank += 1
            elif in_block or s.startswith(("//", "/*")):
                comment += 1
                if s.startswith("/*"):
                    in_block = True
                if in_block and "*/" in s:
                    in_block = False
            else:
                code += 1
    return code, comment, blank


def scala_files(paths):
    for p in paths:
        if os.path.isfile(p):
            yield p
        for root, dirs, names in os.walk(p):
            dirs.sort()
            yield from (os.path.join(root, n) for n in sorted(names) if n.endswith(".scala"))


if __name__ == "__main__":
    total = [0, 0, 0]
    print(f"{'code':>7} {'comment':>7} {'blank':>7}  file")
    for f in scala_files(sys.argv[1:] or ["src"]):
        c = count(f)
        total = [a + b for a, b in zip(total, c)]
        print(f"{c[0]:7d} {c[1]:7d} {c[2]:7d}  {f}")
    print(f"{total[0]:7d} {total[1]:7d} {total[2]:7d}  total")
