"""tools/runner.py: the one timed run + release, the cold-build clear
and the merging artifact write that bench.py and the sweeps share."""

from __future__ import annotations

import json
import os
import tempfile
import time

import pandas as pd
import pytest
from pyspark import InheritableThread
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from my_mapreduce_spark.caching import pinned_rdd_count
from my_mapreduce_spark.registry import REGISTRY, _ensure_loaded
from tests.conftest import SF_DIR
from tools import runner


def test_run_returns_count_and_releases_pins(spark, duck):
    """q_kcore_peel pins localCheckpoint blocks that a catalog clear
    leaves in place; after the run nothing may stay pinned."""
    _ensure_loaded()
    res = runner.run(spark, "q_kcore_peel", SF_DIR, runner.count)
    assert res.error is None
    want = len(duck.sql(REGISTRY["q_kcore_peel"].oracle).df())
    assert res.value == want > 0
    assert res.secs > 0
    assert pinned_rdd_count(spark) == 0


def test_run_reads_the_runs_stage_metrics(spark):
    """Run.stages comes from the status store, for this run's jobs
    only: a second run under the same name reports about the same
    shuffle (compressed sizes move a little), not the group's running
    total."""
    _ensure_loaded()
    first = runner.run(spark, "q_kcore_peel", SF_DIR, runner.count).stages
    assert first["jobs"] >= 1 and first["stages"] >= 1
    assert first["shuffle_write_mb"] > 0 and first["cpu_s"] > 0
    again = runner.run(spark, "q_kcore_peel", SF_DIR, runner.count).stages
    assert again["shuffle_write_mb"] == pytest.approx(
        first["shuffle_write_mb"], rel=0.1)
    assert again["jobs"] == pytest.approx(first["jobs"], rel=0.1)

    one = runner.run(spark, "q_range", SF_DIR, runner.count,
                     fn=lambda spark, sf_dir: spark.range(1)).stages
    assert one["jobs"] >= 1 and one["shuffle_write_mb"] == 0


def test_run_reads_python_worker_cpu(spark):
    """Run.stages["python_s"] is the CPU of the Python workers, which
    the status store's executor CPU leaves out."""
    def busy(batches):
        for b in batches:
            yield b.assign(id=sum(i * i for i in range(200_000)))

    py = runner.run(spark, "q_python", SF_DIR, runner.count,
                    fn=lambda spark, sf_dir: spark.range(8, numPartitions=8)
                    .mapInPandas(busy, "id long")).stages["python_s"]
    assert py > 0


def test_raising_query_comes_back_as_error(spark):
    def boom(spark, sf_dir):
        spark.range(10).localCheckpoint()   # a pin left by the failure
        raise ValueError("boom")

    res = runner.run(spark, "q_boom", SF_DIR, runner.count, fn=boom)
    assert isinstance(res.error, ValueError)
    assert res.value is None and res.secs is None
    assert pinned_rdd_count(spark) == 0


def test_action_executes_terminal_columns(spark):
    """A raising UDF in a column nothing downstream consumes still
    runs: the action executes the query's own plan, which a
    ``count()`` would prune the column from."""
    @pandas_udf("long")
    def boom(s: pd.Series) -> pd.Series:
        raise ValueError("boom")

    res = runner.run(spark, "q_boom", SF_DIR, runner.count,
                     fn=lambda spark, sf_dir:
                     spark.range(4).select(boom(F.col("id"))))
    assert res.error is not None and "boom" in str(res.error)
    assert pinned_rdd_count(spark) == 0


def test_run_waits_for_jobs_the_query_left_running(spark):
    """A job of the query's group still running after the action (as
    an AQE stage the final plan no longer needs can be) ends before
    the release."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    side = InheritableThread(target=lambda: sc.parallelize(range(4), 4)
                             .map(lambda x: time.sleep(1) or x).count())

    def fn(spark, sf_dir):
        side.start()
        deadline = time.time() + 60
        while not st.getJobIdsForGroup("q_side"):
            assert time.time() < deadline, "side job never started"
            time.sleep(0.01)
        return spark.range(1)

    res = runner.run(spark, "q_side", SF_DIR, runner.count, fn=fn)
    assert res.value == 1
    assert not set(st.getActiveJobsIds()) & set(st.getJobIdsForGroup("q_side"))
    side.join(timeout=60)
    assert not side.is_alive()


def test_ivf_cold_build_dir_is_cleared_before_the_build(spark):
    _ensure_loaded()
    root = os.path.join(tempfile.gettempdir(), "mmr_ivf_file")
    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, "stale"), "w") as f:
        f.write("left by an earlier process")
    seen = []

    def probe(spark, sf_dir):
        seen.append(os.path.exists(root))
        return REGISTRY["q_knn_ivf_file"].fn(spark, sf_dir)

    res = runner.run(spark, "q_knn_ivf_file", SF_DIR, runner.count,
                     fn=probe)
    assert res.error is None and res.value > 0
    assert seen == [False]


def test_subset_write_merges_and_keeps_schema(tmp_path):
    _ensure_loaded()
    flat = tmp_path / "flat.json"
    flat.write_text(json.dumps({"q1_pricing_summary": {"ok": False},
                                "q_pagerank": {"ok": True},
                                "q_gone": {"ok": True}}))
    runner.write_artifact(str(flat), {"q1_pricing_summary": {"ok": True}},
                          subset=True)
    assert json.loads(flat.read_text()) == {
        "q1_pricing_summary": {"ok": True}, "q_pagerank": {"ok": True}}

    nested = tmp_path / "nested.json"
    nested.write_text(json.dumps({"sf": "old", "queries": {
        "q_pagerank": {"ok": True}, "q_gone": {"ok": True}}}))
    runner.write_artifact(str(nested), {"q1_pricing_summary": {"ok": True}},
                          subset=True, header={"sf": "new"}, newline=False)
    text = nested.read_text()
    assert not text.endswith("\n")
    assert json.loads(text) == {"sf": "new", "queries": {
        "q1_pricing_summary": {"ok": True}, "q_pagerank": {"ok": True}}}

    # a full run replaces the file's per-query map
    runner.write_artifact(str(flat), {"q_pagerank": {"ok": False}},
                          subset=False)
    assert json.loads(flat.read_text()) == {"q_pagerank": {"ok": False}}
