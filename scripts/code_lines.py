#!/usr/bin/env python3
"""Print the code-line count of each source file given.

A code line is one that is not blank and, once its leading whitespace
is stripped, does not start with `//`, `/*` or `*` (the comment forms
the Scala sources use). With more than one file, a total line follows.

Usage: python3 scripts/code_lines.py FILE...
"""
import sys


def code_lines(path):
    with open(path, encoding="utf-8") as f:
        return sum(1 for line in f
                   if line.strip()
                   and not line.strip().startswith(("//", "/*", "*")))


def main(paths):
    if not paths:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    total = 0
    for p in paths:
        n = code_lines(p)
        total += n
        print(f"{n}\t{p}")
    if len(paths) > 1:
        print(f"{total}\ttotal")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
