"""Targeted timing harness for the optimization rounds.

Times a named subset of registered queries with N samples each
(median + min + max of the wall, the medians of executor CPU-seconds
and shuffle-write MB from Spark's status store, and the median of the
Python workers' CPU-seconds, which the status store never sees), through
the same runner as bench.py
(tools/runner.py: the same warm-up, an action that executes the
query's own plan, per-sample cache release) so numbers are
comparable to BENCH_LOCAL.json entries. Unlike bench.py it times
ONLY the names given, so a focused before/after measurement is
minutes, not the full 9-minute sweep.

    python tools/time_queries.py --samples 3 q_dedup_icws q_pagerank
    python tools/time_queries.py --samples 3 --tag dedup
    python tools/time_queries.py --out /tmp/before.json name...
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from my_mapreduce_spark.registry import REGISTRY  # noqa: E402
from tools import runner  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--samples", type=int, default=3)
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--out", default=None)
    ap.add_argument("--tag", default=None,
                    help="time every query carrying this tag")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    spark = runner.start("time-queries")
    names = list(args.names)
    if args.tag:
        names += [n for n, s in REGISTRY.items()
                  if args.tag in getattr(s, "tags", ()) and n not in names]
    runner.warm_up(spark, args.sf)

    results: dict[str, dict] = {}
    for name in names:
        samples, cpu, py, shuffle = [], [], [], []
        for _ in range(args.samples):
            res = runner.run(spark, name, args.sf, runner.count)
            if res.error is not None:
                print(f"{name}: FAILED {res.error}", file=sys.stderr)
                samples.append(-1.0)
                break
            samples.append(round(res.secs, 3))
            cpu.append(res.stages["cpu_s"])
            py.append(res.stages["python_s"])
            shuffle.append(res.stages["shuffle_write_mb"])
        good = sorted(s for s in samples if s >= 0)
        med = statistics.median(good) if good else -1.0
        cpu_s = round(statistics.median(cpu), 3) if cpu else -1.0
        python_s = round(statistics.median(py), 3) if py else -1.0
        mb = round(statistics.median(shuffle), 3) if shuffle else -1.0
        results[name] = {"median": round(med, 3), "min": good[0] if good else -1,
                         "max": good[-1] if good else -1, "samples": samples,
                         "cpu_s": cpu_s, "python_s": python_s,
                         "shuffle_write_mb": mb}
        print(f"{name:40s} med={med:7.3f}  min={good[0] if good else -1:7.3f}"
              f"  max={good[-1] if good else -1:7.3f}  cpu_s={cpu_s:7.3f}"
              f"  python_s={python_s:7.3f}  shuffle_mb={mb:8.3f}")
    if args.out:
        runner.write_artifact(args.out, results, subset=False)
    return 0


if __name__ == "__main__":
    sys.exit(main())
