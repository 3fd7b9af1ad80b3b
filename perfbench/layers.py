"""Tracing for the per-layer run, measured from outside the program.

Nothing here changes the package. The tracer wraps the public
functions of ``io``, ``caching`` and ``mapreduce`` (installed before the
query registry is imported, so every ``from ... import`` in a query
module binds the wrapper), puts each op's jobs in job groups, listens
to streaming progress and reads Spark's own status store and planning
tracker. Spans are kept in memory and written when the run ends.

Layer names are this repo's module names: ``session``, ``registry``,
``queries``, ``io``, ``plan``, ``exec``, ``caching``, ``streaming`` and
``mapreduce``. A span's layer is its name up to the first dot.
"""

from __future__ import annotations

import contextlib
import datetime
import glob
import json
import os
import statistics
import time
from collections import defaultdict


class NullTracer:
    """What the untimed-tracing run uses: every hook does nothing."""

    active = False

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        yield None

    def timed(self, name: str, counter: str | None = None):
        return contextlib.nullcontext()

    def count(self, name: str, n: float = 1) -> None:
        pass

    def start(self) -> None:
        """Begin the timed phase."""
        self.active = True

    def job_group(self, spark, op: int, phase: str, label: str) -> None:
        pass

    def exec_start(self) -> None:
        pass

    def after_exec(self, df) -> None:
        pass

    def after_op(self, spark, op: int) -> None:
        pass


class Tracer(NullTracer):
    """Spans and per-layer counters of one traced run.

    Counters only accrue while ``active`` is set, which the worker does
    for the timed phase; spans are recorded throughout."""

    def __init__(self, proc_tree):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op: int | None = None
        self._proc = proc_tree
        self.active = False
        self.counters: dict[str, float] = defaultdict(float)
        self.batch_s: list[float] = []
        self._batches: list[tuple[float, float, int]] = []
        self._acc: dict = {}
        self._acc_seen: dict[str, float] = {}
        self._py0 = 0.0

    # -- spans --------------------------------------------------------------

    def add(self, name: str, start: float, end: float,
            parent: int | None) -> int:
        self.spans.append({"id": len(self.spans), "name": name,
                           "start": start, "end": end, "parent": parent,
                           "op": self._op})
        return len(self.spans) - 1

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        if op is not None:
            self._op = op
        sid = self.add(name, time.time(), 0.0,
                       self._stack[-1] if self._stack else None)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()
            if op is not None:
                self._op = None

    @contextlib.contextmanager
    def timed(self, name: str, counter: str | None = None):
        """Record a span and, while active, add its duration to the
        ``counter`` (default ``<name>_s``)."""
        t0 = time.perf_counter()
        with self.span(name):
            yield
        self.count(counter or name + "_s", time.perf_counter() - t0)

    def count(self, name: str, n: float = 1) -> None:
        if self.active:
            self.counters[name] += n

    def start(self) -> None:
        """Begin the timed phase: drop what set-up and verification
        left in the streaming and accumulator feeds."""
        self._batches.clear()
        self._acc_seen = {k: acc.value for k, acc in self._acc.items()}
        self.active = True

    # -- Spark hooks used by the worker's op loop ---------------------------

    def job_group(self, spark, op: int, phase: str, label: str) -> None:
        spark.sparkContext.setJobGroup(f"op{op}.{phase}", label)

    def exec_start(self) -> None:
        self._py0 = self._proc.cpu()[1]

    def after_exec(self, df) -> None:
        """Python-worker CPU of the action and, for a DataFrame, the
        Catalyst phases its QueryExecution recorded (epoch ms)."""
        self.count("exec.python_s", self._proc.cpu()[1] - self._py0)
        if df is None:
            return
        exec_sid = self._stack[-1] if self._stack else None
        phases = df._jdf.queryExecution().tracker().phases()
        it = phases.iterator()
        while it.hasNext():
            kv = it.next()
            name, ph = kv._1(), kv._2()
            self.count(f"plan.{name}_s", ph.durationMs() / 1000)
            parent = self._enclosing(ph.startTimeMs() / 1000, exec_sid)
            self.add(f"plan.{name}", ph.startTimeMs() / 1000,
                     ph.endTimeMs() / 1000, parent)

    def _enclosing(self, t: float, default: int | None) -> int | None:
        """The innermost span of the current op open at time ``t``."""
        best = default
        for s in self.spans:
            if s["op"] == self._op and s["name"] in ("queries", "exec") \
                    and s["start"] <= t <= (s["end"] or t):
                best = s["id"]
        return best

    def after_op(self, spark, op: int) -> None:
        """Read the op's jobs and stages from the status store, and
        attribute the streaming batches that ran during it."""
        sc = spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        self._op = op
        for phase, prefix in (("build", "queries.build_"), ("exec", "exec.")):
            m = _stage_metrics(sc, f"op{op}.{phase}")
            if phase == "build":
                self.count("queries.build_jobs", m["jobs"])
                self.count("queries.build_cpu_s", m["cpu_s"])
                continue
            for key, val in m.items():
                self.count(prefix + key, val)
        for start, end, rows in self._batches:
            self.add("streaming.batch", start, end,
                     self._enclosing((start + end) / 2, None))
            self.batch_s.append(end - start)
            self.count("streaming.batches")
            self.count("streaming.state_rows", rows)
        self._batches.clear()
        for key, acc in self._acc.items():
            val = acc.value
            self.count(key, val - self._acc_seen.get(key, 0.0))
            self._acc_seen[key] = val
        self._op = None

    # -- wrappers around the package's public functions ---------------------

    def install(self) -> None:
        """Wrap io, caching and mapreduce entry points. Must run before
        the registry and ``my_mapreduce_spark.__main__`` are imported."""
        import my_mapreduce_spark as pkg
        from my_mapreduce_spark import caching, io, mapreduce

        tracer = self
        load_table = io.load_table
        widen = io.widen_unsplittable_scan
        release = caching.release_caches
        map_stage, reduce_stage = mapreduce.map_stage, mapreduce.reduce_stage
        write = mapreduce.write_text_output

        def traced_load_table(spark, sf_dir, name):
            tracer.count("io.load_table_calls")
            with tracer.timed("io.load_table"):
                return load_table(spark, sf_dir, name)

        def traced_widen(df, key="doc_id"):
            tracer.count("io.widen_calls")
            with tracer.timed("io.widen"):
                out = widen(df, key)
            tracer.count("io.widen_fired", out is not df)
            return out

        def traced_release(spark, force_checkpointed=False):
            with tracer.timed("caching.release"):
                n = release(spark, force_checkpointed)
            tracer.count("caching.pinned_released", n)
            return n

        def traced_map_stage(df, mapf):
            t_s, pairs = tracer._accumulators(df, "mapreduce.map_stage_s",
                                              "mapreduce.intermediate_pairs")

            def timed_map(key, value):
                t0 = time.perf_counter()
                out = list(mapf(key, value))
                t_s.add(time.perf_counter() - t0)
                pairs.add(len(out))
                return out

            with tracer.span("mapreduce.map_stage"):
                return map_stage(df, timed_map)

        def traced_reduce_stage(mapped, reducef, n_reduce=10):
            t_s, keys = tracer._accumulators(mapped, "mapreduce.reduce_stage_s",
                                             "mapreduce.reduce_keys")

            def timed_reduce(key, values):
                t0 = time.perf_counter()
                out = reducef(key, values)
                t_s.add(time.perf_counter() - t0)
                keys.add(1)
                return out

            with tracer.span("mapreduce.reduce_stage"):
                return reduce_stage(mapped, timed_reduce, n_reduce)

        def traced_write(result, path, n_reduce=10):
            with tracer.span("mapreduce.write"):
                write(result, path, n_reduce)
            tracer.count("mapreduce.output_mb", sum(
                os.path.getsize(p) for p in glob.glob(f"{path}/part-*"))
                / (1 << 20))

        io.load_table = pkg.load_table = traced_load_table
        io.widen_unsplittable_scan = traced_widen
        caching.release_caches = traced_release
        mapreduce.map_stage = traced_map_stage
        mapreduce.reduce_stage = traced_reduce_stage
        mapreduce.write_text_output = traced_write

    def _accumulators(self, df, *names):
        sc = df.sparkSession.sparkContext
        for name in names:
            if name not in self._acc:
                self._acc[name] = sc.accumulator(0.0)
        return tuple(self._acc[n] for n in names)

    def listen(self, spark) -> None:
        """Record every streaming micro-batch's trigger wall and state
        rows (callbacks arrive on the listener thread)."""
        from pyspark.sql.streaming import StreamingQueryListener

        batches = self._batches

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                start = datetime.datetime.fromisoformat(
                    p.timestamp.replace("Z", "+00:00")).timestamp()
                dur = p.durationMs.get("triggerExecution", 0) / 1000
                batches.append((start, start + dur, sum(
                    s.numRowsTotal for s in p.stateOperators)))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Progress())

    # -- results -------------------------------------------------------------

    def metrics(self, n_ops: int, cores: int) -> dict[str, float]:
        """Per-op means of the counters, plus the ratios."""
        c = self.counters
        out = {k: v / n_ops for k, v in c.items()}
        out["streaming.batch_p50_s"] = (statistics.median(self.batch_s)
                                        if self.batch_s else 0.0)
        wall = c.get("exec.wall_s", 0.0)
        out["exec.slot_util"] = (c.get("exec.run_s", 0.0) / (wall * cores)
                                 if wall else 0.0)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _stage_metrics(sc, group: str) -> dict[str, float]:
    """Sum of Spark's stage metrics over the jobs of one job group.
    Stages skipped because their shuffle output was reused have no
    attempt and are not counted."""
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    m = dict.fromkeys(("cpu_s", "run_s", "gc_s", "shuffle_write_mb",
                       "shuffle_read_mb", "fetch_wait_s", "spill_mb",
                       "stages", "tasks"), 0.0)
    m["jobs"] = len(jobs)
    for sid in stages:
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:  # py4j error: no attempt was ever submitted
            continue
        if sd.status().toString() == "SKIPPED":
            continue
        m["stages"] += 1
        m["tasks"] += sd.numTasks()
        m["cpu_s"] += sd.executorCpuTime() / 1e9
        m["run_s"] += sd.executorRunTime() / 1e3
        m["gc_s"] += sd.jvmGcTime() / 1e3
        m["shuffle_write_mb"] += sd.shuffleWriteBytes() / (1 << 20)
        m["shuffle_read_mb"] += sd.shuffleReadBytes() / (1 << 20)
        m["fetch_wait_s"] += sd.shuffleFetchWaitTime() / 1e3
        m["spill_mb"] += (sd.memoryBytesSpilled()
                          + sd.diskBytesSpilled()) / (1 << 20)
    return m
