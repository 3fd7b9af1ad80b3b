"""Shuffle-partition scaling probe: measure the most expensive
queries across a sweep of ``spark.sql.shuffle.partitions`` and print
a markdown table of the curvature.

Fixtures cap at sf0.1, so the 100x arguments in SCALE.md can only be
measured one axis deep: this probe shows, per headline query, how
wall-clock responds as the shuffle fan-out scales 8 -> 256 on the
same data. A flat-or-gently-U curve means the plan's cost is NOT
dominated by per-partition constants or a single serial task — the
shape that survives adding executors; a curve that climbs steeply at
high fan-out exposes fixed per-partition overhead, and one that
climbs at LOW fan-out exposes a partition-count-sensitive bottleneck
(e.g. one fat partition).

Usage:
    python tools/shuffle_scaling.py [--sf DIR] [--parts 8,32,128,256]
                                    [--top N | name ...]

--top N picks the N slowest queries from BENCH_LOCAL.json.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import runner  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--parts", default="8,32,128,256")
    ap.add_argument("--top", type=int, default=None)
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    parts = [int(p) for p in args.parts.split(",")]

    if not (args.top or args.names):
        ap.error("give query names or --top N")
    spark = runner.start("shuffle-scaling")
    names = runner.bench_tail(top=args.top) if args.top else args.names
    default = spark.conf.get("spark.sql.shuffle.partitions")
    runner.warm_up(spark, args.sf)

    rows = []
    try:
        for name in names:
            cells = []
            for p in parts:
                spark.conf.set("spark.sql.shuffle.partitions", str(p))
                res = runner.run(spark, name, args.sf, runner.count)
                res.result()
                cells.append(res.secs)
            rows.append((name, cells))
            print(f"  {name}: " + "  ".join(
                f"{p}->{t:.2f}s" for p, t in zip(parts, cells)),
                file=sys.stderr)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", default)

    print("| query | " + " | ".join(f"p={p}" for p in parts)
          + " | shape |")
    print("|---|" + "---|" * (len(parts) + 1))
    for name, cells in rows:
        lo, hi = min(cells), max(cells)
        spread = hi / lo if lo > 0 else float("inf")
        shape = ("flat" if spread <= 1.3 else
                 "mild" if spread <= 2.0 else "steep")
        print(f"| {name} | " + " | ".join(f"{t:.2f}s" for t in cells)
              + f" | {shape} ({spread:.1f}x) |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
