"""The streaming family's shared harness: the split-file source, the
foreachBatch runner, the memory-sink runner and the shuffle scope
must clean up after themselves, also when the body or the stream
fails."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from my_mapreduce_spark.io import load_table
from my_mapreduce_spark.session import shuffle_partitions
from my_mapreduce_spark.streaming.jobs import (_event_stream, _run_to_memory,
                                               run_foreach_batch,
                                               split_file_source)
from tests.conftest import SF_DIR


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
