"""Run EVERY registered query against zero-row copies of the fixture
tables — the whole-registry robustness sweep behind the sampled
pytest suites (tests/test_empty_input.py enumerates the high-risk
seams; this covers the tail so a new query with an unguarded
driver-side scalar can't hide).

Round-5 record: 315/315 queries return a typed result (often 0 rows,
sometimes a legitimate all-zero summary row) with zero crashes.

Usage: python tools/empty_sweep.py [--out EMPTY_SWEEP_LOCAL.json]
(exit 0 iff no query raises)
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from my_mapreduce_spark.io import TABLES, load_table  # noqa: E402
from my_mapreduce_spark.registry import REGISTRY  # noqa: E402
from tools import runner  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=None, metavar="JSON",
                    help="write {query: {ok, rows|err}} artifact; the "
                         "hygiene pytest asserts it covers the registry "
                         "with zero failures")
    ap.add_argument("names", nargs="*",
                    help="subset to sweep; with --out, merges into the "
                         "existing artifact (check_correctness contract)")
    args = ap.parse_args()
    spark = runner.start("empty-sweep", master="local[8]",
                         extra_confs={"spark.sql.shuffle.partitions": "8"})
    out = tempfile.mkdtemp(prefix="sf_empty_sweep_")
    for t in TABLES:
        (load_table(spark, "/root/testdata/sf0.001", t)
         .limit(0).write.mode("overwrite").parquet(f"{out}/{t}.parquet"))
    fails = []
    record: dict[str, dict] = {}
    names = args.names or list(REGISTRY)
    for name in names:
        res = runner.run(spark, name, out, runner.count)
        if res.error is None:
            record[name] = {"ok": True, "rows": res.value, "err": None}
        else:
            fails.append(name)
            msg = str(res.error).splitlines()[0][:120]
            record[name] = {"ok": False, "rows": None, "err": msg}
            print(f"  {name}: FAIL {msg}")
    print(f"{len(names) - len(fails)}/{len(names)} queries survive "
          "zero-row inputs")
    if fails:
        print("failed:", ", ".join(fails))
    if args.out:
        record = runner.write_artifact(args.out, record, bool(args.names))
        print(f"wrote {args.out} ({len(record)} entries)")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
