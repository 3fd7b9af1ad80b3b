"""Custom Python DataSource (`mrout`) for the reference's text output
format: partition-per-file parallelism, declared schema, and
source-level key-filter pushdown (pushFilters)."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from my_mapreduce_spark.mapreduce import write_text_output
from my_mapreduce_spark.sources_custom import register_mrout


def _demo(spark, path, n_reduce=3):
    """Five rows in the mr-out layout a ``mapreduce()`` result has:
    hashed by key into ``n_reduce`` partitions, each sorted by key.
    The sink writes the partitions it is given, so the layout is set
    here and the file count does not depend on the core count."""
    df = spark.createDataFrame(
        [("apple", "3"), ("banana", "x 7"), ("cherry", "1"),
         ("apricot", "9"), ("avocado", "2")],
        "key string, value string")
    write_text_output(df.repartition(n_reduce, "key")
                      .sortWithinPartitions("key"), path, n_reduce=n_reduce)
    register_mrout(spark)
    return df


def test_mrout_roundtrip_and_partitioning(spark, tmp_path):
    path = str(tmp_path / "out")
    df = _demo(spark, path)
    back = spark.read.format("mrout").load(path)
    assert back.schema.simpleString() == "struct<key:string,value:string>"
    # full roundtrip, including a value containing a space (the
    # reference writes "%v %v" — only the FIRST space is the split)
    assert sorted((r.key, r.value) for r in back.collect()) == \
        sorted((r.key, r.value) for r in df.collect())
    # one input partition per reduce file = distributed read
    n_files = len(glob.glob(path + "/part-*"))
    assert back.rdd.getNumPartitions() == n_files >= 2


def test_mrout_filter_pushdown_reaches_source(spark, tmp_path):
    path = str(tmp_path / "out")
    _demo(spark, path)
    back = spark.read.format("mrout").load(path)
    for cond, expect in [
        (F.col("key") == "apple", {"apple"}),
        (F.col("key").startswith("a"), {"apple", "apricot", "avocado"}),
        (F.col("key").isin("cherry", "banana"), {"cherry", "banana"}),
    ]:
        q = back.where(cond)
        got = {r.key for r in q.collect()}
        assert got == expect, (cond, got)
        # the predicate was absorbed by pushFilters: the executed plan
        # has NO post-scan Filter node — the source did the pruning
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "Filter (" not in plan, plan  # ("RuntimeFilters: []" is scan metadata)


def test_mrout_unsupported_filter_stays_in_spark(spark, tmp_path):
    path = str(tmp_path / "out")
    _demo(spark, path)
    back = spark.read.format("mrout").load(path)
    # value-column predicates are NOT pushed (reader only handles key)
    q = back.where(F.col("value") == "3")
    assert {r.key for r in q.collect()} == {"apple"}
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "Filter (" in plan  # evaluated post-scan by Spark


def test_mrout_streaming_reader_multibatch(spark, tmp_path):
    """readStream over the mrout format: one micro-batch (file) per
    availableNow run, offsets checkpointed and resumed across runs,
    final content equal to the batch read.

    The simple-stream-reader prefetch snapshots ONE batch per
    availableNow trigger, so draining a 3-file log takes 3 runs
    against the same checkpoint — each run is a restart that must
    resume from the committed file index (the replay contract)."""
    path = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    df = _demo(spark, path, n_reduce=3)
    n_files = len(glob.glob(path + "/part-*"))

    sink = "mrout_stream_sink"
    runs = 0
    for _ in range(n_files + 2):
        stream = (spark.readStream.format("mrout").load(path)
                  .groupBy("key").agg(F.count(F.lit(1)).alias("n")))
        q = (stream.writeStream.format("memory").queryName(sink)
             .outputMode("complete").option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        runs += 1
        if {r.key for r in spark.table(sink).collect()} ==                 {r.key for r in df.collect()}:
            break
    try:
        got = {(r.key, r.n) for r in spark.table(sink).collect()}
        want = {(r.key, 1) for r in df.collect()}
        assert got == want
        # the drain genuinely spanned several checkpoint-resumed runs
        assert runs >= min(n_files, 2)
    finally:
        spark.catalog.dropTempView(sink)


def test_mrout_writer_roundtrip_and_layout(spark, tmp_path):
    """df.write.format('mrout'): reference sink layout (one mr-out-N
    per partition), atomic publish (no temp files left), and a full
    write→read roundtrip through the same DataSource."""
    path = str(tmp_path / "sink")
    register_mrout(spark)
    df = (spark.createDataFrame(
        [("apple", "3"), ("banana", "x 7"), ("cherry", "1"),
         ("apricot", "9"), ("avocado", "2")],
        "key string, value string").repartition(3))
    df.write.format("mrout").mode("append").save(path)

    files = sorted(glob.glob(path + "/mr-out-*"))
    assert len(files) == 3                      # one file per partition
    assert not glob.glob(path + "/.tmp-*")      # two-phase commit cleaned up
    back = spark.read.format("mrout").load(path)
    assert sorted((r.key, r.value) for r in back.collect()) == \
        sorted((r.key, r.value) for r in df.collect())

    # overwrite replaces the previous generation atomically
    df2 = spark.createDataFrame([("kiwi", "1")], "key string, value string") \
        .repartition(1)
    df2.write.format("mrout").mode("overwrite").save(path)
    assert [(r.key, r.value) for r in
            spark.read.format("mrout").load(path).collect()] == [("kiwi", "1")]


def test_mrout_writer_abort_leaves_nothing_visible(spark, tmp_path):
    """The two-phase commit's abort path: task temp files are removed
    and no mr-out-* ever appears (what a failed/speculative task run
    must guarantee). Driver-side unit test: fabricate the temp file a
    task write would leave, then abort with its commit message plus a
    None (a task that never reported)."""
    import os
    import uuid

    from my_mapreduce_spark.sources_custom import MrOutWriter, _MrOutCommit

    path = str(tmp_path / "sink")
    w = MrOutWriter({"path": path}, overwrite=False)
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write("k v\n")
    msg = _MrOutCommit(tmp_path=tmp, final_name="mr-out-0", n_rows=1)
    w.abort([msg, None])
    assert not glob.glob(path + "/.tmp-*")
    assert not glob.glob(path + "/mr-out-*")


def test_mrout_stream_offsets_natural_order_and_stability(tmp_path):
    """Name-based offsets under the reference's unpadded numeric
    names (mr/worker.go:190): files must be consumed in NUMERIC
    order (mr-out-2 before mr-out-10), a late-dropped file that
    sorts below the consumed watermark must not shift or re-emit
    consumed work, and readBetweenOffsets must replay a committed
    range byte-identically."""
    from my_mapreduce_spark.sources_custom import MrOutStreamReader

    path = str(tmp_path / "log")
    os.makedirs(path)

    def drop(n, body):
        with open(os.path.join(path, f"mr-out-{n}"), "w") as fh:
            fh.write(body)

    for n in (0, 1, 2, 10):   # 'mr-out-10' < 'mr-out-2' lexicographically
        drop(n, f"k{n} {n}\n")
    r = MrOutStreamReader({"path": path})
    off = r.initialOffset()
    seen = []
    for _ in range(4):
        rows, off = r.read(off)
        seen.extend(rows)
    assert [k for k, _ in seen] == ["k0", "k1", "k2", "k10"]  # numeric order
    # drained: no more pending
    rows, off2 = r.read(off)
    assert rows == [] and off2 == off

    # replay of the full committed range is byte-identical
    replay = r.readBetweenOffsets(r.initialOffset(), off)
    assert replay == seen

    # a late file below the watermark must NOT resurface consumed
    # names or shift anything; only names above the watermark flow
    drop(5, "k5 5\n")   # below consumed mr-out-10
    rows, off3 = r.read(off)
    assert rows == []           # skipped, not mis-replayed (documented)
    drop(11, "k11 11\n")
    rows, off4 = r.read(off3)
    assert [k for k, _ in rows] == ["k11"]
    assert off4 == {"last": "mr-out-11"}


def test_mrout_writer_append_refuses_clobber(spark, tmp_path):
    """Append-mode commit must fail loudly instead of silently
    replacing a previous run's mr-out-N files (ADVICE r3), leaving
    the prior generation intact and no temp files behind."""
    import pytest

    path = str(tmp_path / "sink")
    register_mrout(spark)
    df = spark.createDataFrame([("a", "1"), ("b", "2")],
                               "key string, value string").repartition(2)
    df.write.format("mrout").mode("append").save(path)
    before = {f: open(f).read() for f in glob.glob(path + "/mr-out-*")}
    assert len(before) == 2

    with pytest.raises(Exception, match="would overwrite existing"):
        df.write.format("mrout").mode("append").save(path)
    after = {f: open(f).read() for f in glob.glob(path + "/mr-out-*")}
    assert after == before                       # prior output intact
    assert not glob.glob(path + "/.tmp-*")       # temps cleaned up


def test_mrout_streaming_twelve_files_numeric_order(spark, tmp_path):
    """End-to-end readStream over >10 unpadded file names — the case
    the pre-fix index-based offsets broke (mr-out-10 sorts before
    mr-out-2 lexicographically, so a checkpointed index pointed at a
    different file across restarts). 12 files drained one per
    availableNow run against one checkpoint must yield exactly-once
    totals, no dup or loss."""
    path = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(path)
    for n in range(12):
        with open(os.path.join(path, f"mr-out-{n}"), "w") as fh:
            fh.write(f"k{n} {n}\n")
    register_mrout(spark)

    sink = "mrout_natorder_sink"
    try:
        for _ in range(14):
            q = (spark.readStream.format("mrout").load(path)
                 .groupBy("key").agg(F.count(F.lit(1)).alias("n"))
                 .writeStream.format("memory").queryName(sink)
                 .outputMode("complete")
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination()
            if spark.table(sink).count() == 12:
                break
        got = {(r.key, r.n) for r in spark.table(sink).collect()}
        assert got == {(f"k{n}", 1) for n in range(12)}
    finally:
        spark.catalog.dropTempView(sink)
