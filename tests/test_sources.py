"""End-to-end file I/O: whole-file text source → mapreduce job →
text sink, plus KV JSON and CSV round-trips.

This drives the reference's full storage lifecycle (SURVEY.md §1.2):
real .txt files on disk in, ``"key value"`` lines out, compared
against a sequential Python run of the same Map/Reduce closures —
the closest analogue of running the original engine on
``main/pg-*.txt``.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from my_mapreduce_spark.apps import wc_map, wc_reduce
from my_mapreduce_spark.io import load_table
from my_mapreduce_spark.mapreduce import mapreduce, write_text_output
from my_mapreduce_spark.sources import (read_csv, read_kv_json,
                                        read_text_lines,
                                        read_whole_text_files, write_csv,
                                        write_kv_json)
from tests.conftest import SF_DIR
from tests.test_mapreduce import seq_mapreduce


@pytest.fixture(scope="module")
def corpus_dir(spark, tmp_path_factory):
    """Write each fixture document as its own .txt file — the
    reference's input layout (one file per map task)."""
    d = tmp_path_factory.mktemp("corpus")
    docs = load_table(spark, SF_DIR, "documents").limit(50).collect()
    for r in docs:
        (d / f"doc_{r.doc_id}.txt").write_text(r.text, encoding="utf-8")
    return d, {f"doc_{r.doc_id}.txt": r.text for r in docs}


def test_whole_text_files_roundtrip(spark, corpus_dir):
    d, want = corpus_dir
    got = {r.filename: r.contents
           for r in read_whole_text_files(spark, str(d), glob="*.txt").collect()}
    assert got == want


def test_file_to_file_wc_job(spark, corpus_dir, tmp_path):
    """Full lifecycle: scan .txt files → wc mapreduce → text sink →
    read the 'key value' lines back; equals the sequential run. The
    sink's n_reduce (4) is below the reduce's (10), so each file
    merges several reduce partitions and must still be sorted by
    key."""
    d, raw = corpus_dir
    src = read_whole_text_files(spark, str(d), glob="*.txt")
    result = mapreduce(src, wc_map, wc_reduce)
    out = tmp_path / "wc_out"
    write_text_output(result, str(out), n_reduce=4)

    lines = spark.read.text(str(out)).collect()
    got = dict(r.value.split(" ", 1) for r in lines)
    want = seq_mapreduce(raw.items(), wc_map, wc_reduce)
    assert got == want
    # sink layout contract: one file per reduce partition
    parts = [p for p in out.iterdir() if p.name.startswith("part-")]
    assert len(parts) == 4
    for p in parts:
        keys = [ln.split(" ", 1)[0]
                for ln in p.read_text(encoding="utf-8").splitlines()]
        assert keys == sorted(keys), p.name


def test_text_lines_source(spark, corpus_dir):
    d, raw = corpus_dir
    n_lines = sum(len(t.split("\n")) for t in raw.values())
    df = read_text_lines(spark, str(d))
    assert df.count() == n_lines
    assert df.columns == ["filename", "line"]


def test_kv_json_roundtrip(spark, tmp_path):
    docs = load_table(spark, SF_DIR, "documents").select(
        F.col("doc_id").cast("string").alias("key"),
        F.col("lang").alias("value"))
    path = str(tmp_path / "kv")
    write_kv_json(docs, path, n_partitions=3)
    back = read_kv_json(spark, path)
    assert {(r.key, r.value) for r in back.collect()} == \
           {(r.key, r.value) for r in docs.collect()}


def test_csv_roundtrip(spark, tmp_path):
    na = load_table(spark, SF_DIR, "nation")
    path = str(tmp_path / "nation_csv")
    write_csv(na, path)
    back = read_csv(spark, path,
                    "n_nationkey int, n_name string, n_regionkey int")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, na.collect()))


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    from my_mapreduce_spark.sources import read_orc, write_orc

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "lang", "n_chars")
    path = str(tmp_path / "docs_orc")
    write_orc(docs, path, partition_by="lang")
    back = read_orc(spark, path).select("doc_id", "lang", "n_chars")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, docs.collect()))
    # partition pruning: a lang predicate must prune the read to one
    # hive partition (PartitionFilters in the scan, not a post-filter)
    plan = (read_orc(spark, path).where(F.col("lang") == "en")
            ._jdf.queryExecution().executedPlan().toString())
    assert "PartitionFilters: [isnotnull(lang" in plan


def test_parquet_schema_evolution_merge(spark, tmp_path):
    # batches written months apart drift schema; mergeSchema must
    # union the columns and null-fill the old batch
    path = str(tmp_path / "evolving")
    v1 = spark.createDataFrame([(1, "a")], "id int, name string")
    v1.write.parquet(path + "/batch=1")
    v2 = spark.createDataFrame([(2, "b", 0.5)],
                               "id int, name string, score double")
    v2.write.parquet(path + "/batch=2")
    back = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(back.columns) == {"id", "name", "score", "batch"}
    rows = {r.id: (r.name, r.score) for r in back.collect()}
    assert rows == {1: ("a", None), 2: ("b", 0.5)}


def test_compact_parquet_small_files(spark, tmp_path):
    from my_mapreduce_spark.io import compact_parquet

    src, dst = str(tmp_path / "small"), str(tmp_path / "compacted")
    ev = load_table(spark, SF_DIR, "events").select("event_id", "user_id", "value")
    ev.repartition(64).write.parquet(src)          # the small-files mess
    n = compact_parquet(spark, src, dst, target_file_bytes=1 << 20)
    import glob
    files = glob.glob(dst + "/part-*.parquet")
    assert len(files) == n and n < 64
    back = spark.read.parquet(dst)
    assert back.count() == ev.count()
    assert back.select(F.sum("event_id")).first()[0] == \
        ev.select(F.sum("event_id")).first()[0]
