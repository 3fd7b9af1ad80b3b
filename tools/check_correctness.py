"""Local mirror of the driver's correctness gate.

Runs every registered query on Spark and its DuckDB oracle twin on
the same parquet tables, then compares row count, column names, and
an order-insensitive value comparison. Use before committing a new
operator:

    python tools/check_correctness.py [--sf /root/testdata/sf0.01] [name ...]

Exit code 0 iff every checked query matches.
"""

from __future__ import annotations

import argparse
import sys
import time

sys.path.insert(0, __file__.rsplit("/", 2)[0])  # repo root, when run as a script

from my_mapreduce_spark.registry import REGISTRY  # noqa: E402
from tools import runner  # noqa: E402
from tools.runner import _normalize  # noqa: E402,F401 (perfbench/verify.py)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default=None, metavar="JSON",
                    help="write per-query results in the driver's "
                         "CORRECTNESS schema (rows/schema/hash_match, err)")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    spark = runner.start("check-correctness")
    names = args.names or list(REGISTRY)
    con = runner.oracle_db(args.sf)

    failures = []
    record: dict[str, dict] = {}
    for name in names:
        spec = REGISTRY[name]
        t0 = time.time()
        res = runner.run(spark, name, args.sf, lambda df: df.toPandas())
        if res.error is not None:
            print(f"  {name}: ERROR {res.error}")
            failures.append(name)
            record[name] = {"rows_match": False, "schema_match": False,
                            "hash_match": False, "spark_rows": None,
                            "oracle_rows": None, "err": f"spark: {res.error}"}
            continue
        sdf = res.value
        if spec.oracle is None:
            print(f"  {name}: rows-only ({len(sdf)} rows) [{time.time()-t0:.1f}s]")
            if len(sdf) == 0:
                print("    WARN: zero rows")
            record[name] = {"rows_match": None, "schema_match": None,
                            "hash_match": None, "spark_rows": len(sdf),
                            "oracle_rows": None, "err": "no_oracle"}
            continue
        odf = con.sql(spec.oracle).df()
        record[name] = {**runner.compare(sdf, odf), "spark_rows": len(sdf),
                        "oracle_rows": len(odf)}
        err = record[name]["err"]
        status = "OK" if err is None else f"MISMATCH ({err})"
        print(f"  {name}: {status} ({len(sdf)} rows) [{time.time()-t0:.1f}s]")
        if err is not None:
            failures.append(name)

    print(f"\n{len(names)-len(failures)}/{len(names)} matched")
    if failures:
        print("failed:", ", ".join(failures))
    if args.out:
        record = runner.write_artifact(args.out, record, bool(args.names),
                                       newline=False)
        print(f"wrote {args.out} ({len(record)} entries)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
