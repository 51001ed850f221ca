#!/usr/bin/env python3
"""Line counts of the main Scala sources.

Prints, for every file under src/main/scala (or the directory given as the
first argument), its raw line count and its code line count, then the
totals. A code line is a line that is not blank and, once leading
whitespace is stripped, does not start with `//`, `/*` or `*`.

Usage: python3 scripts/loc.py [DIR]
"""
import os
import sys


def counts(path):
    raw = code = 0
    with open(path, encoding="utf-8") as f:
        for line in f:
            raw += 1
            s = line.strip()
            if s and not s.startswith(("//", "/*", "*")):
                code += 1
    return raw, code


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", "src", "main", "scala")
    root = os.path.normpath(root)
    rows = []
    for d, _, files in os.walk(root):
        for name in files:
            if name.endswith(".scala"):
                p = os.path.join(d, name)
                rows.append((os.path.relpath(p, root),) + counts(p))
    rows.sort()
    width = max([len(r[0]) for r in rows] + [5])
    print(f"{'file':<{width}} {'raw':>7} {'code':>7}")
    for name, raw, code in rows:
        print(f"{name:<{width}} {raw:>7} {code:>7}")
    print(f"{'total':<{width}} {sum(r[1] for r in rows):>7} "
          f"{sum(r[2] for r in rows):>7}")


if __name__ == "__main__":
    main()
