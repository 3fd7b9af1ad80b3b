"""The measured process: one client driving one workload in a closed loop.

``run.py`` starts this in a fresh process and reads the JSON it
writes. Phases, in order:

1. set-up (timed as ``setup_s`` from the moment ``run.py`` spawned this
   process): session start, registry import, and an untimed warm-up of
   one batch query, plus one streaming query on a workload that has
   streaming ops;
2. verification, untimed: each distinct pool entry runs once as exactly the op the timed phase runs, and its
   result is checked in full, a query's against its DuckDB oracle and
   an app's against a sequential run of its closures;
3. ``Workload.warm_passes`` untimed passes over the pool, run as
   timed ops are;
4. the timed phase: a fixed number of whole seeded passes over the
   pool (``Workload.timed_passes``). One op is ``spec.fn`` + an action
   that executes the returned DataFrame's own physical plan, every
   column included (``queryExecution().toRdd().count()``) +
   ``release_caches``; for a MapReduce app it is ``__main__.run`` +
   ``release_caches``. Every op's row count is checked against the
   oracle's.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import time

from perfbench import procstat
from perfbench.layers import NullTracer, Tracer
from perfbench.workloads import MR, WARMUP, WORKLOADS, passes


def _action(df) -> int:
    """Execute ``df``'s own physical plan and return its row count."""
    return df._jdf.queryExecution().toRdd().count()


class Client:
    def __init__(self, spark, sf_dir: str, tracer, work: str,
                 corpus: list[str]):
        from my_mapreduce_spark import caching
        from my_mapreduce_spark.registry import REGISTRY

        self.spark, self.sf_dir, self.tracer = spark, sf_dir, tracer
        self.registry, self.caching = REGISTRY, caching
        self.out_dir = os.path.join(work, "mr-out")
        self.corpus = corpus

    def op(self, entry: str, op: int, inspect=None) -> int | None:
        """Run one pool entry; returns the query's row count (None for a
        MapReduce app, whose output is checked from its files).
        ``inspect``, if given, is called with the query's DataFrame
        after the action and before its caches are released."""
        t = self.tracer
        with t.span("op", op=op):
            if entry.startswith(MR):
                rows, df = None, None
                t.job_group(self.spark, op, "exec", entry)
                t.exec_start()
                with t.timed("mapreduce.run", "exec.wall_s"):
                    self._run_app(entry[len(MR):], self.out_dir,
                                  self.corpus, spark=self.spark)
            else:
                t.job_group(self.spark, op, "build", entry)
                with t.timed("queries", "queries.build_s"):
                    df = self.registry[entry].fn(self.spark, self.sf_dir)
                t.job_group(self.spark, op, "exec", entry)
                t.exec_start()
                with t.timed("exec", "exec.wall_s"):
                    rows = _action(df)
            t.after_exec(df)
            if inspect is not None and df is not None:
                inspect(df)
            # looked up per call: the tracer may have wrapped it
            self.caching.release_caches(self.spark, force_checkpointed=True)
        return rows

    @staticmethod
    def _run_app(*args, **kwargs) -> None:
        from my_mapreduce_spark.__main__ import run

        run(*args, **kwargs)


def _verify(client: Client, wl, inject_wrong: bool):
    """Untimed: run each distinct pool entry once as a timed op would,
    and return what each entry must return (a query's oracle row count,
    an app's sorted output lines) and the entries whose results already
    disagree."""
    from perfbench import verify

    expected: dict[str, object] = {}
    errors: dict[str, str] = {}
    oracle = None
    for entry in sorted(set(wl.pool)):
        try:
            if entry.startswith(MR):
                want = verify.sequential_lines(entry[len(MR):], client.corpus)
                expected[entry] = want
                client.op(entry, -1)
                err = verify.mr_output_error(client.out_dir, want)
            else:
                oracle = oracle or verify.Oracle(client.sf_dir)
                want = oracle.frame(client.registry[entry].oracle)
                expected[entry] = len(want)
                got = []
                rows = client.op(entry, -1,
                                 inspect=lambda df: got.append(df.toPandas()))
                err = (f"{rows} rows, oracle has {len(want)}"
                       if rows != len(want) else verify.compare(got[0], want))
        except Exception as exc:  # an entry that fails here fails every op
            err = f"raised {exc!r}"[:500]
        if err:
            errors[entry] = err
    if inject_wrong:
        # self-test: make the first pool entry's expectation wrong
        first = wl.pool[0]
        expected[first] = (expected[first] + ["injected"]
                           if first.startswith(MR) else expected[first] + 1)
    return expected, errors


def _check(client: Client, entry: str, rows, expected) -> str | None:
    from perfbench import verify

    if entry.startswith(MR):
        return verify.mr_output_error(client.out_dir, expected[entry])
    if rows != expected[entry]:
        return f"{rows} rows, oracle has {expected[entry]}"
    return None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--spawned", type=float, required=True,
                    help="time.monotonic() when run.py spawned this process")
    ap.add_argument("--corpus", nargs="*", default=[])
    ap.add_argument("--pool-limit", type=int, default=0)
    ap.add_argument("--inject-wrong", action="store_true")
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]
    if args.pool_limit:
        wl = dataclasses.replace(wl, pool=wl.pool[:args.pool_limit])

    proc = procstat.Tree(os.getpid())
    tracer = Tracer(proc) if args.trace else NullTracer()
    if args.trace:
        tracer.install()  # before the registry is imported

    from my_mapreduce_spark.registry import _ensure_loaded
    from my_mapreduce_spark.session import get_spark

    t0 = time.perf_counter()
    with tracer.span("session"):
        spark = get_spark(f"perfbench-{wl.name}")
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    if args.trace:
        tracer.listen(spark)
    t0 = time.perf_counter()
    with tracer.span("registry"):
        _ensure_loaded()
    registry_s = time.perf_counter() - t0

    client = Client(spark, args.sf_dir, tracer, args.work, args.corpus)
    with tracer.span("warmup"):
        for name in filter(None, (WARMUP, wl.stream_warmup)):
            _action(client.registry[name].fn(spark, args.sf_dir))
            client.caching.release_caches(spark, force_checkpointed=True)
    setup_s = time.monotonic() - args.spawned

    t0 = time.perf_counter()
    with tracer.span("verify"):
        expected, errors = _verify(client, wl, args.inject_wrong)
    verify_s = time.perf_counter() - t0

    # CPU per op keeps falling over the first passes while the JVM
    # compiles hot code
    t0 = time.perf_counter()
    with tracer.span("warm"):
        for _ in range(wl.warm_passes):
            for name in wl.pool:
                if name not in errors:
                    client.op(name, -1)
    warm_s = time.perf_counter() - t0

    tracer.start()
    jiffies0 = procstat.cpu_jiffies()
    rss = procstat.PeakRss(proc)
    rss.start()
    ops: list[dict] = []
    for pass_no, order in enumerate(
            passes(wl.pool, args.seed, wl.timed_passes(args.seconds))):
        for name in order:
            op = len(ops)
            cpu0 = proc.cpu()[0]
            t0 = time.perf_counter()
            rows, err = None, None
            try:
                rows = client.op(name, op)
            except Exception as exc:  # counted as a failed op
                err = f"raised {exc!r}"[:500]
            wall = time.perf_counter() - t0
            cpu = proc.cpu()[0] - cpu0
            if err is None:
                err = errors.get(name) or _check(client, name, rows, expected)
                if rows is None and err is None:
                    rows = len(expected[name])  # app lines, verified equal
            if args.trace:
                tracer.count("exec.rows_out", rows or 0)
                tracer.after_op(spark, op)
            ops.append({"name": name, "pass": pass_no, "wall_s": wall,
                        "cpu_s": cpu, "rows": rows, "error": err})
    peak_mb = rss.stop()
    steal = procstat.steal_pct(jiffies0, procstat.cpu_jiffies())
    tracer.active = False

    cores = int(spark.sparkContext.defaultParallelism)
    result = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "sf_dir": args.sf_dir, "cores": cores,
        "setup_s": setup_s, "verify_s": verify_s, "warm_s": warm_s,
        "session_s": session_s,
        "registry_s": registry_s, "ops": ops, "peak_rss_mb": peak_mb,
        "steal_pct": steal, "verify_errors": errors,
    }
    if args.trace:
        result["layers"] = {"session.start_s": session_s,
                            "registry.import_s": registry_s,
                            **tracer.metrics(len(ops), cores)}
        spans = os.path.join(args.work, "spans.jsonl")
        tracer.write(spans)
        result["spans"] = spans
    with open(os.path.join(args.work, "worker.json"), "w") as f:
        json.dump(result, f)
    spark.stop()
    shutil.rmtree(client.out_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
