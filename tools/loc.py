#!/usr/bin/env python
"""Non-test lines of code: one line per module of ``dbsyncer_spark/``,
its total, and the repo-wide total that ROADMAP.md tracks (every ``.py``
file outside ``tests/`` directories and the ``perfbench/`` benchmark).
Lines are physical lines, as ``wc -l`` counts them.

Usage: python tools/loc.py
"""

from __future__ import annotations

import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SKIP_DIRS = {"tests", "perfbench", "__pycache__"}


def py_files(top: str):
    for d, dirs, files in os.walk(top):
        dirs[:] = sorted(x for x in dirs
                         if x not in SKIP_DIRS and not x.startswith("."))
        yield from (os.path.join(d, f) for f in sorted(files) if f.endswith(".py"))


def lines(path: str) -> int:
    with open(path, "rb") as f:
        return f.read().count(b"\n")


def main() -> None:
    pkg = 0
    for path in py_files(os.path.join(ROOT, "dbsyncer_spark")):
        n = lines(path)
        pkg += n
        print(f"{n:7d}  {os.path.relpath(path, ROOT)}")
    print(f"{pkg:7d}  dbsyncer_spark/ total")
    print(f"{sum(lines(p) for p in py_files(ROOT)):7d}  repo total (non-test)")


if __name__ == "__main__":
    main()
