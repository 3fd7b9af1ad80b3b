"""The streaming family's shared harness: the split-file source, the
foreachBatch runner, the memory-sink runner and the shuffle scope
must clean up after themselves, also when the body or the stream
fails; under ``captured_plans()`` each stream records the executed
plan of its last micro-batch, which is what the plan audit reads."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from my_mapreduce_spark.io import load_table
from my_mapreduce_spark.registry import REGISTRY, CapturedPlan, QuerySpec
from my_mapreduce_spark.session import shuffle_partitions
from my_mapreduce_spark.streaming.jobs import (_event_stream, _run_to_memory,
                                               captured_plans,
                                               run_foreach_batch,
                                               run_hourly_stream,
                                               split_file_source)
from tests.conftest import SF_DIR
from tools import runner


def test_split_file_source_is_multi_batch_and_removes_work_dir(spark):
    """Micro-batch k holds exactly the rows of part file k, every row
    arrives exactly once, and the work dir is gone after the
    ``with``."""
    def ids(df):
        return sorted(r.event_id for r in df.select("event_id").collect())

    got = []
    with split_file_source(spark, SF_DIR, "events", 4) \
            as (stream, work, n_files):
        assert os.path.isdir(work)
        parts = sorted(glob.glob(os.path.join(work, "src", "part-*.parquet")))
        want = [ids(spark.read.parquet(p)) for p in parts]
        epochs = run_foreach_batch(spark, stream,
                                   lambda b, _: got.append(ids(b)))
    assert len(epochs) == len(got) == n_files >= 2
    assert got == want
    assert (sum(map(len, got))
            == load_table(spark, SF_DIR, "events").count())
    assert not os.path.exists(work)


def test_split_file_source_removes_work_dir_when_body_raises(spark):
    with pytest.raises(RuntimeError, match="body failed"):
        with split_file_source(spark, SF_DIR, "documents", 2) \
                as (_, work, _n):
            raise RuntimeError("body failed")
    assert not os.path.exists(work)


def test_run_to_memory_drops_sink_view_when_stream_fails(spark):
    """A failing stream raises and leaves no ``<prefix>_*`` sink view
    and no scoped shuffle width behind."""
    before = spark.conf.get("spark.sql.shuffle.partitions")
    failing = _event_stream(spark, SF_DIR).select(
        F.assert_true(F.col("event_id") < 0).alias("never"))
    with pytest.raises(StreamingQueryException):
        _run_to_memory(spark, failing, "leakprobe", "append")
    leaked = [t.name for t in spark.catalog.listTables()
              if t.name.startswith("leakprobe_")]
    assert leaked == []
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_shuffle_partitions_restores_conf_after_raise(spark):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(RuntimeError, match="body failed"):
        with shuffle_partitions(spark, 3):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
            raise RuntimeError("body failed")
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_captured_plans_records_the_memory_sink_stream(spark):
    """One memory-sink stream records one plan: its last micro-batch's
    executed plan, stateful operators included. A stream run after the
    ``with`` records nothing."""
    with captured_plans() as plans:
        run_hourly_stream(spark, SF_DIR)
    assert len(plans) == 1
    assert isinstance(plans[0], CapturedPlan)
    assert "StateStoreSave" in plans[0].formatted
    run_hourly_stream(spark, SF_DIR)
    assert len(plans) == 1


def test_captured_plans_records_the_foreach_batch_stream(spark):
    """A multi-batch foreachBatch stream records exactly one plan."""
    with captured_plans() as plans:
        with split_file_source(spark, SF_DIR, "documents", 2) \
                as (stream, _, n_files):
            epochs = run_foreach_batch(spark, stream, lambda b, _: None)
    assert len(epochs) == n_files >= 2
    assert len(plans) == 1
    assert isinstance(plans[0], CapturedPlan)


def test_audit_plan_prefers_the_registered_audit_fn(spark, monkeypatch):
    """A registered ``audit_fn`` is the audited plan; the query itself
    is not built. Without one, a query that starts no stream is
    audited by its own DataFrame."""
    def never(spark, sf_dir):
        raise AssertionError("the query must not be built")

    plan = spark.range(3)
    monkeypatch.setitem(REGISTRY, "q_probe", QuerySpec(
        "q_probe", never, None, audit_fn=lambda spark, sf_dir: plan))
    assert runner.audit_plan(spark, "q_probe", SF_DIR) is plan
    monkeypatch.setitem(REGISTRY, "q_probe", QuerySpec(
        "q_probe", lambda spark, sf_dir: plan, None))
    assert runner.audit_plan(spark, "q_probe", SF_DIR) is plan
