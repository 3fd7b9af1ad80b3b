"""Golden parity: mapreduce() compat API vs a sequential Python
MapReduce running the reference's Map/Reduce logic.

This is the analogue of MIT 6.824's ``mrsequential`` golden check
(SURVEY.md §5.1): same Map/Reduce closures, one process, no
parallelism — the engine must produce the identical key→value dict.
"""

from __future__ import annotations

import glob
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from my_mapreduce_spark.apps import (indexer_map, indexer_reduce, wc_map,
                                     wc_reduce)
from my_mapreduce_spark.io import load_table
from my_mapreduce_spark.mapreduce import mapreduce, write_text_output
from tests.conftest import SF_DIR


def seq_mapreduce(inputs, mapf, reducef) -> dict[str, str]:
    inter: dict[str, list[str]] = defaultdict(list)
    for k, v in inputs:
        for ok, ov in mapf(k, v):
            inter[ok].append(ov)
    return {k: reducef(k, vs) for k, vs in inter.items()}


# --- fixtures ------------------------------------------------------------

@pytest.fixture(scope="module")
def corpus_df(spark):
    docs = load_table(spark, SF_DIR, "documents")
    return docs.select(F.concat_ws("-", "source", "doc_id").alias("filename"),
                       F.col("text"))


@pytest.fixture(scope="module")
def corpus_rows(corpus_df):
    return [(r.filename, r.text) for r in corpus_df.collect()]


# --- golden tests --------------------------------------------------------

@pytest.mark.parametrize("mapf,reducef", [(wc_map, wc_reduce),
                                          (indexer_map, indexer_reduce)],
                         ids=["wc", "indexer"])
def test_mapreduce_matches_sequential(spark, corpus_df, corpus_rows, mapf, reducef):
    got = {r.key: r.value for r in mapreduce(corpus_df, mapf, reducef).collect()}
    want = seq_mapreduce(corpus_rows, mapf, reducef)
    assert got == want


def test_dataframe_wc_matches_mapreduce_api(spark, corpus_df, corpus_rows):
    """The JVM-side wc query and the compat-API wc agree — i.e. the
    \\p{L} Java tokenizer matches Python str.isalpha on the corpus."""
    from my_mapreduce_spark.queries.reference_parity import wc_word_count

    native = {r.word: r.cnt for r in wc_word_count(spark, SF_DIR).collect()}
    seq = {k: int(v) for k, v in seq_mapreduce(corpus_rows, wc_map, wc_reduce).items()}
    assert native == seq


@pytest.mark.parametrize("mapf,reducef", [(wc_map, wc_reduce),
                                          (indexer_map, indexer_reduce)],
                         ids=["wc", "indexer"])
def test_key_runs_spanning_arrow_batches(spark, corpus_df, corpus_rows,
                                         mapf, reducef):
    """With 7-row Arrow batches most runs of equal keys cross a batch
    boundary; the reduce must still call ``reducef`` once per key with
    the key's complete value list."""
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "7")
    try:
        got = {r.key: r.value
               for r in mapreduce(corpus_df, mapf, reducef).collect()}
    finally:
        spark.conf.set(conf, old)
    assert got == seq_mapreduce(corpus_rows, mapf, reducef)


def test_empty_string_key(spark, corpus_df, corpus_rows):
    """The empty string is a key like any other: it sorts first and its
    run is reduced once, not taken for "no run open"."""
    def mapf(filename, text):
        return [("", "1"), *wc_map(filename, text)]

    got = {r.key: r.value
           for r in mapreduce(corpus_df, mapf, wc_reduce).collect()}
    assert got[""] == str(len(corpus_rows))
    assert got == seq_mapreduce(corpus_rows, mapf, wc_reduce)


def test_map_stage_that_emits_nothing(spark, corpus_df):
    calls = []

    def reducef(key, values):
        calls.append(key)
        return ""

    assert mapreduce(corpus_df, lambda k, v: [], reducef).collect() == []
    assert calls == []


def _write_plan(spark, path: str) -> str:
    """The physical plan Spark recorded for the last write to ``path``,
    as the formatted operator tree (AQE's current plan first)."""
    executions = spark._jsparkSession.sharedState().statusStore() \
        .executionsList()
    for i in reversed(range(executions.size())):
        desc = executions.apply(i).physicalPlanDescription()
        if "InsertIntoHadoopFsRelationCommand" in desc and path in desc:
            return desc.split("\n\n", 1)[0]
    raise AssertionError(f"no write to {path} in the SQL status store")


def test_write_text_output(spark, corpus_df, tmp_path):
    """The mr-out sink over a ``mapreduce()`` result: one shuffle in
    the whole job (the reduce's), one file per reduce partition, each
    sorted by key, with every key's line present."""
    out = mapreduce(corpus_df, wc_map, wc_reduce, n_reduce=4)
    path = str(tmp_path / "mr-out")
    write_text_output(out, path, n_reduce=4)

    current = _write_plan(spark, path).split("== Initial Plan ==")[0]
    assert current.count("Exchange (") == 1, current

    files = sorted(glob.glob(f"{path}/part-*"))
    assert len(files) == 4
    lines = []
    for f in files:
        with open(f, encoding="utf-8") as fh:
            part = fh.read().splitlines()
        keys = [ln.partition(" ")[0] for ln in part]
        assert keys == sorted(keys), f
        lines.extend(part)
    assert len(lines) == out.count()
    assert all(len(ln.split(" ", 1)) == 2 for ln in lines)
