"""tools/runner.py: the one timed run + release, the cold-build clear
and the merging artifact write that bench.py and the sweeps share."""

from __future__ import annotations

import json
import os
import tempfile

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


def test_raising_query_comes_back_as_error(spark):
    def boom(spark, sf_dir):
        spark.range(10).localCheckpoint()   # a pin left by the failure
        raise ValueError("boom")

    res = runner.run(spark, "q_boom", SF_DIR, runner.count, fn=boom)
    assert isinstance(res.error, ValueError)
    assert res.value is None and res.secs is None
    assert pinned_rdd_count(spark) == 0


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
