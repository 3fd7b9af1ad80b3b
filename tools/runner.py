"""The one way a harness runs a registered query.

``bench.py`` and the sweeps under ``tools/`` all do the same thing per
query: build its plan at a fixture directory, run one action on it,
and then release what the query left pinned — the caller-owned
release of ``my_mapreduce_spark.caching``. This module is that loop
(:func:`run`) plus what the harnesses share around it: session start,
warm-up, the plan a query is audited by, the DuckDB oracle compare,
the merging artifact write and the bench-tail selection.

    spark = runner.start("my-tool")
    runner.warm_up(spark, sf_dir)
    res = runner.run(spark, "q_pagerank", sf_dir, runner.count)
    res.secs, res.value, res.error, res.stages["shuffle_write_mb"]

The package keeps no harness code: ``perfbench/`` has its own loop,
and only ``bench.py`` and ``tools/`` import this module.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import tempfile
import time
from dataclasses import dataclass

import pandas as pd

from my_mapreduce_spark.caching import pinned_rdd_count, release_caches
from my_mapreduce_spark.io import TABLES
from my_mapreduce_spark.registry import REGISTRY, _ensure_loaded
from my_mapreduce_spark.session import get_spark
from perfbench.layers import _stage_metrics
from perfbench.procstat import Tree

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Queries that key an on-disk artifact by fixture fingerprint (the
# IVF inverted file, similarity.py): without a clear, their time
# means "warm serve" or "cold build+serve" depending on what a
# PREVIOUS process left in the tempdir. Clearing before every run
# pins one meaning: cold build+serve.
_COLD_BUILD_DIRS = {
    "q_knn_ivf_file": "mmr_ivf_file",
    "q_knn_ivf_file_refresh": "mmr_ivf_file",
}

# One batch query and one streaming query: the first streaming run in
# a JVM pays ~3 s of state-store/streaming-exec class loading that
# would otherwise be billed to whichever streaming query runs first.
_WARM_UP = ("q1_pricing_summary", "q_streaming_hourly")


@dataclass
class Run:
    """Outcome of one :func:`run`: the action's value and the build +
    action wall, or the exception the query raised, and the stage
    metrics of the run's jobs (executor CPU, shuffle bytes, stages,
    tasks; see ``perfbench.layers._stage_metrics``) plus ``python_s``,
    the CPU the run's Python workers spent, which the executor CPU of
    the status store never includes."""

    value: object = None
    secs: float | None = None
    error: Exception | None = None
    stages: dict | None = None

    def result(self):
        """The action's value; re-raises the query's exception."""
        if self.error is not None:
            raise self.error
        return self.value


def start(app: str, **get_spark_kwargs):
    """Load the registry and start the engine's session at log level
    ERROR; keyword arguments go to ``get_spark``."""
    _ensure_loaded()
    spark = get_spark(app, **get_spark_kwargs)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def count(df) -> int:
    """The harnesses' action: executes the query's own plan, every
    column included, and returns its row count."""
    return df._jdf.queryExecution().toRdd().count()


def warm_up(spark, sf_dir: str) -> None:
    """Pay JVM, codegen, parquet-footer and streaming class-loading
    start-up before anything is timed. Its jobs are tagged
    ``warm-up <query>``, so no query's job group picks them up."""
    for name in _WARM_UP:
        run(spark, f"warm-up {name}", sf_dir, count,
            fn=REGISTRY[name].fn).result()


def audit_plan(spark, name: str, sf_dir: str):
    """The plan ``name`` is audited and dumped by: its registered
    ``audit_fn``'s plan if it has one; else, when building the query
    runs a stream, the executed plan of the last stream's last
    micro-batch (a ``CapturedPlan``); else the query's own DataFrame."""
    from my_mapreduce_spark.streaming.jobs import captured_plans

    spec = REGISTRY[name]
    if spec.audit_fn is not None:
        return spec.audit_fn(spark, sf_dir)
    with captured_plans() as plans:
        df = spec.fn(spark, sf_dir)
    return plans[-1] if plans else df


def _wait_idle(sc, group: str) -> None:
    """Return once no job of ``group`` has run for 10 polls 10 ms
    apart. AQE can leave stages of a finished query running (a
    broadcast or cache build its final plan no longer needs), and
    such a stage can pin a cache again after a release."""
    st = sc.statusTracker()
    quiet = 0
    while quiet < 10:
        busy = set(st.getActiveJobsIds()) & set(st.getJobIdsForGroup(group))
        quiet = 0 if busy else quiet + 1
        time.sleep(0.01)


def run(spark, name: str, sf_dir: str, action, fn=None) -> Run:
    """Build ``name`` (or ``fn``, under that name) at ``sf_dir``, apply
    ``action`` to what it returns and time both.

    The query's cold-build directory is cleared before the clock
    starts and its jobs carry the job group ``name``. An exception
    comes back in ``Run.error`` instead of being raised. After the
    clock stops and the query's jobs are idle, every cache is
    released, checkpointed blocks included (the action has consumed
    the result by then), and nothing may stay pinned. ``Run.stages``
    is then read from Spark's status store: the group's totals less
    what earlier runs under the same name left there. Its ``python_s``
    is the growth of the CPU of the Python processes below this one
    (the pyspark daemon and its workers) over the run."""
    sub = _COLD_BUILD_DIRS.get(name)
    if sub:
        shutil.rmtree(os.path.join(tempfile.gettempdir(), sub),
                      ignore_errors=True)
    sc = spark.sparkContext
    proc = Tree(os.getpid())
    before, py0 = _stage_metrics(sc, name), proc.cpu()[1]
    sc.setJobGroup(name, name)
    t0 = time.time()
    try:
        value = action((fn or REGISTRY[name].fn)(spark, sf_dir))
        res = Run(value, time.time() - t0)
    except Exception as exc:
        res = Run(error=exc)
    finally:
        sc._jsc.clearJobGroup()
        _wait_idle(sc, name)
        release_caches(spark, force_checkpointed=True)
        assert pinned_rdd_count(spark) == 0, \
            f"cache leak survived release after {name}"
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    res.stages = {k: v - before[k]
                  for k, v in _stage_metrics(sc, name).items()}
    res.stages["python_s"] = proc.cpu()[1] - py0
    return res


def write_artifact(path: str, record: dict, subset: bool,
                   header: dict | None = None, newline: bool = True) -> dict:
    """Write a per-query artifact; returns the per-query map written.

    With ``header`` the file is ``{**header, "queries": record}``,
    else ``record`` itself. A ``subset`` run merges into the existing
    file so a spot check keeps it registry-complete, and drops keys of
    queries no longer registered (the hygiene tests reject them).
    ``newline`` ends the file with one."""
    if subset and os.path.exists(path):
        with open(path) as f:
            prev = json.load(f)
        merged = {**(prev["queries"] if header is not None else prev),
                  **record}
        record = {k: v for k, v in merged.items() if k in REGISTRY}
    with open(path, "w") as f:
        json.dump(record if header is None else {**header, "queries": record},
                  f, indent=1, sort_keys=True)
        if newline:
            f.write("\n")
    return record


def bench_tail(top: int) -> list[str]:
    """The ``top`` slowest registered queries of ``BENCH_LOCAL.json``
    (failed ones never). Call after :func:`start`, which loads the
    registry."""
    with open(os.path.join(ROOT, "BENCH_LOCAL.json")) as f:
        bench = json.load(f)["queries"]
    return [n for n, t in sorted(bench.items(), key=lambda kv: -kv[1])
            if n in REGISTRY and t >= 0][:top]


def oracle_db(sf_dir: str):
    """A DuckDB connection with one view per fixture table."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # canonicalize cell values so dtype differences don't fail the compare
    def canon(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return None
        if isinstance(v, float):
            return round(v, 6)
        if hasattr(v, "isoformat"):
            return v.isoformat()
        if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
            return tuple(canon(x) for x in v)
        return v
    out = df.map(canon)
    return out.sort_values(by=list(out.columns), key=lambda s: s.map(repr)).reset_index(drop=True)


def compare(sdf: pd.DataFrame, odf: pd.DataFrame) -> dict:
    """Order-insensitive compare of a Spark result with its oracle's:
    ``rows_match``, ``schema_match``, ``hash_match`` and ``err`` (None
    when they hold the same rows, else the first difference)."""
    rows_match = len(sdf) == len(odf)
    schema_match = sorted(sdf.columns) == sorted(odf.columns)
    out = {"rows_match": rows_match, "schema_match": schema_match,
           "hash_match": False, "err": None}
    if not rows_match:
        out["err"] = f"row count spark={len(sdf)} oracle={len(odf)}"
    elif not schema_match:
        out["err"] = (f"columns spark={sorted(sdf.columns)} "
                      f"oracle={sorted(odf.columns)}")
    else:
        a, b = _normalize(sdf), _normalize(odf)
        if a.equals(b):
            out["hash_match"] = True
        else:
            diff = (a != b) & ~(a.isna() & b.isna())
            out["err"] = f"{int(diff.to_numpy().sum())} differing cells"
            for col in a.columns:
                if diff[col].any():
                    i = diff[col].idxmax()
                    out["err"] += (f"; e.g. {col}[{i}]: spark={a[col][i]!r}"
                                   f" oracle={b[col][i]!r}")
                    break
    return out
