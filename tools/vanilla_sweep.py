"""Vanilla-session sweep THROUGH THE DRIVER SEAM — committed gate.

The external driver consumes ``__spark_entry__.queries()`` /
``oracle_sql()`` with its OWN plain SparkSession (no session-factory
confs, default driver memory). Rounds 6-7 ran this sweep ad hoc and
narrated the result in BASELINE.md; the round-7 verdict (item 8)
promoted it to a committed artifact: VANILLA_LOCAL.json, regenerated
by tools/round_close.py and pinned by tests/test_registry_hygiene.py.

What the seam catches that check_correctness.py (our session
factory) cannot:
- confs that only exist in my_mapreduce_spark.session.get_spark
  (e.g. the parquet-nanos conf io.load_table must set dynamically);
- driver-memory discipline: a default-size vanilla JVM OOMs after
  ~150 queries at sf0.1 unless every query's caller-owned caches are
  released (the per-query release of tools/runner.py, which this
  sweep runs every query through);
- accidental dependence on registry internals the driver never
  imports.

Usage:
    python tools/vanilla_sweep.py [--sf DIR] [--out VANILLA_LOCAL.json] [name ...]

Subset runs merge into the existing artifact (the check_correctness
incremental pattern) so a per-commit spot check keeps the artifact
registry-complete without a full re-run. Exit 1 on any failure.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

from tools import runner  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default=os.path.join(_ROOT,
                                                  "VANILLA_LOCAL.json"))
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    # the seam: a PLAIN builder (ui off only — it binds ports in CI),
    # never my_mapreduce_spark.session.get_spark
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[8]")
             .appName("vanilla-sweep")
             .config("spark.ui.enabled", "false")
             .getOrCreate())

    import __spark_entry__ as entry
    queries, oracles = entry.queries(), entry.oracle_sql()
    names = args.names or list(queries)
    con = runner.oracle_db(args.sf)

    # cache release is the HARNESS's job (caller-owned lifecycle):
    # without it a default-memory vanilla JVM accumulates persisted
    # state and OOMs mid-sweep (BASELINE.md round-7 record) — the
    # runner releases after every query
    record: dict[str, dict] = {}
    failures = []
    for name in names:
        t0 = time.time()
        res = runner.run(spark, name, args.sf, lambda df: df.toPandas(),
                         fn=queries[name])
        if res.error is not None:
            failures.append(name)
            record[name] = {"ok": False, "rows": None,
                            "err": f"spark: {res.error}"[:300]}
            print(f"  {name}: ERROR {res.error}")
            continue
        sdf = res.value
        if name not in oracles:
            record[name] = {"ok": True, "rows": len(sdf),
                            "err": "no_oracle"}
            print(f"  {name}: rows-only ({len(sdf)}) "
                  f"[{time.time() - t0:.1f}s]")
            continue
        err = runner.compare(sdf, con.sql(oracles[name]).df())["err"]
        record[name] = {"ok": err is None, "rows": len(sdf), "err": err}
        print(f"  {name}: {'OK' if err is None else 'MISMATCH ' + err} "
              f"({len(sdf)} rows) [{time.time() - t0:.1f}s]")
        if err is not None:
            failures.append(name)

    print(f"\n{len(names) - len(failures)}/{len(names)} pass "
          f"through the vanilla seam")
    record = runner.write_artifact(args.out, record, bool(args.names),
                                   header={"sf": args.sf}, newline=False)
    print(f"wrote {args.out} ({len(record)} entries)")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
