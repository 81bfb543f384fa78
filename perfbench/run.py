"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_local --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. Prints context lines (JSON) and, as the
last line, ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Exits 1 when a correctness check failed and 2 when the
engine is not next to the benchmark.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv: list[str] | None = None, scale=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "dbsyncer_spark", "__init__.py")):
        print(f"perfbench: no dbsyncer_spark package under {ROOT}", file=sys.stderr)
        return 2
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {', '.join(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    result, ctx = workloads.run(args.workload, args.seed, args.seconds, bool(args.trace),
                                scale or workloads.DEFAULT, ROOT)
    print(json.dumps({"context": ctx}), flush=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
