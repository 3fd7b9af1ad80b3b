"""CLI parity with the reference's run surface.

The reference is driven as (``main/mrcoordinator.go`` /
``main/mrworker.go``):

    mrcoordinator pg-*.txt     &
    mrworker wc.so             # one or more

and leaves ``mr-out-*`` files in the working directory. This module
is the one-process Spark equivalent — same apps, same input shape
(whole files), same output contract (``"<key> <value>"`` lines, one
``mr-out-N``-style file per reduce partition, keys sorted within
each file):

    python -m my_mapreduce_spark wc      /tmp/out pg-*.txt
    python -m my_mapreduce_spark indexer /tmp/out --nreduce 5 docs/*.txt

The coordinator/worker split itself is Spark's driver/executor split
(SURVEY.md §3.4); fault tolerance comes from Spark task retry
(tools/fault_tolerance_demo.py demonstrates the crash-app scenario),
so the plugin names map to their non-crashing query semantics.
"""

from __future__ import annotations

import argparse
import sys

from my_mapreduce_spark import apps
from my_mapreduce_spark.mapreduce import mapreduce, write_text_output
from my_mapreduce_spark.session import get_spark
from my_mapreduce_spark.sources import read_whole_text_files

APPS = {
    "wc": (apps.wc_map, apps.wc_reduce),
    "indexer": (apps.indexer_map, apps.indexer_reduce),
    "early_exit": (apps.early_exit_map, apps.early_exit_reduce),
    # crash/nocrash share the concat semantics; fault injection is a
    # harness concern (Spark task retry), not an app concern
    "crash": (apps.concat_map, apps.concat_reduce),
    "nocrash": (apps.concat_map, apps.concat_reduce),
}


def run(app: str, out_dir: str, inputs: list[str], n_reduce: int = 10,
        spark=None) -> None:
    """Run one reference app over whole-file inputs into the
    reference's text sink layout. ``inputs`` are file paths or
    globs, matched file-granular like the reference's map tasks."""
    if app not in APPS:
        raise SystemExit(
            f"unknown app {app!r}; available: {', '.join(sorted(APPS))}")
    mapf, reducef = APPS[app]
    own_session = spark is None
    if own_session:
        spark = get_spark(f"mr-{app}")
    try:
        files = read_whole_text_files(spark, inputs)
        write_text_output(mapreduce(files, mapf, reducef, n_reduce),
                          out_dir, n_reduce)
    finally:
        if own_session:
            spark.stop()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="python -m my_mapreduce_spark",
        description="Run a reference MapReduce app on Spark "
                    "(mrcoordinator+mrworker in one process).")
    ap.add_argument("app", help=f"one of: {', '.join(sorted(APPS))}")
    ap.add_argument("out_dir", help="output directory (mr-out layout)")
    ap.add_argument("inputs", nargs="+", help="input text files/globs")
    ap.add_argument("--nreduce", type=int, default=10,
                    help="reduce partition / output file count "
                         "(reference default 10)")
    args = ap.parse_args(argv)
    run(args.app, args.out_dir, args.inputs, args.nreduce)
    return 0


if __name__ == "__main__":
    sys.exit(main())
