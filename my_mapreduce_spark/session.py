"""SparkSession factory.

One place to encode the engine's execution posture (SURVEY.md §4):
AQE on (dynamic coalescing, skew-join splitting, broadcast
conversion), UTC session time, Arrow for any pandas exchange, and a
shuffle-partition default sized for the local test harness but
overridable for cluster deployment via ``SPARK_GRAFT_*`` env vars.

The reference hard-codes its physical layout (nReduce=10 at
``main/mrcoordinator.go:26``, FNV-32a partitioner at
``mr/worker.go:32-36``); here partitioning is a tunable and AQE
re-plans it at runtime.
"""

from __future__ import annotations

import contextlib
import os
import re

from pyspark.sql import SparkSession

# Confs that must be present for correctness, not just speed.
_REQUIRED_CONFS: dict[str, str] = {
    # events.parquet stores TIMESTAMP(NANOS) which the vectorized
    # reader rejects; read as long and convert in io.load_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic time semantics for oracle comparison.
    "spark.sql.session.timeZone": "UTC",
}

_DEFAULT_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # local[N] testing default; a cluster deployment overrides this
    # (rule of thumb: ~2-3x total executor cores, or rely on AQE
    # coalescing from a high initial value).
    "spark.sql.shuffle.partitions": "32",
    "spark.driver.memory": "8g",
    "spark.ui.enabled": "false",
}

_LOCAL_MASTER = re.compile(r"local(\[[^\]]*\])?")
# the checkout's root, from which a local session's Python daemon
# imports my_mapreduce_spark.daemon whatever the caller's PYTHONPATH is
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PYPATH = "spark.executorEnv.PYTHONPATH"


def get_spark(app_name: str = "my-mapreduce-spark", master: str | None = None,
              extra_confs: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default
    32) when no cluster master is configured; on a real cluster pass
    ``master=None`` with ``--master`` supplied by spark-submit.

    A ``local``/``local[...]`` session forks its Python workers from
    ``my_mapreduce_spark.daemon``, which stops every Python task from
    re-reading ``pyspark.zip`` (see that module).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    confs = {**_DEFAULT_CONFS, **(extra_confs or {}), **_REQUIRED_CONFS}
    if master and _LOCAL_MASTER.fullmatch(master):
        # local masters only: executors on a cluster cannot import a
        # checkout that lives on the driver
        paths = [p for p in confs.get(_PYPATH, "").split(os.pathsep) if p]
        if _ROOT not in paths:
            paths.append(_ROOT)
        confs[_PYPATH] = os.pathsep.join(paths)
        confs["spark.python.daemon.module"] = "my_mapreduce_spark.daemon"
    for key, val in confs.items():
        builder = builder.config(key, val)
    spark = builder.getOrCreate()
    # getOrCreate may have returned a pre-existing session (pytest,
    # driver harness); re-assert the correctness-critical confs.
    for key, val in _REQUIRED_CONFS.items():
        spark.conf.set(key, val)
    return spark


@contextlib.contextmanager
def shuffle_partitions(spark: SparkSession, n: int):
    """Set ``spark.sql.shuffle.partitions`` to ``n`` for the body and
    restore the caller's value on exit, also when the body raises (a
    library call never leaks a conf into the caller's session)."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
