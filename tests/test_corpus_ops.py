"""Corpus-hygiene operators: semantic invariants beyond the generic
oracle parity test (tests/test_relational.py covers every registered
query's DuckDB oracle; these pin the properties the oracles can't)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from my_mapreduce_spark.queries.corpus_ops import (
    q_decontaminate,
    q_dup_ngram_fraction,
    q_pii_scrub,
)
from tests.conftest import SF_DIR


def test_pii_scrub_removes_all_planted_pii(spark):
    # every doc gets exactly one email, one phone, one IP planted —
    # the scrubber must find all three
    out = q_pii_scrub(spark, SF_DIR)
    bad = out.where((F.col("n_email") != 1) | (F.col("n_phone") != 1)
                    | (F.col("n_ip") != 1))
    assert bad.count() == 0


def test_dup_ngram_fraction_bounds(spark):
    out = q_dup_ngram_fraction(spark, SF_DIR)
    assert out.where((F.col("shared_frac") < 0) | (F.col("shared_frac") > 1)
                     | (F.col("n_shared") > F.col("n_shingles"))).count() == 0


def test_decontaminate_excludes_benchmark_docs(spark):
    # the benchmark docs themselves must never be flagged
    out = q_decontaminate(spark, SF_DIR)
    assert out.where(F.col("doc_id") % 97 == 0).count() == 0


# a 15-node path with shuffled ids: the smallest id (3) sits mid-chain,
# 10 hops from the far end, so labels need 11 rounds to settle
_PATH_IDS = [31, 7, 44, 18, 3, 52, 26, 11, 39, 60, 22, 5, 48, 14, 35]
_PATH_EDGES = list(zip(_PATH_IDS, _PATH_IDS[1:]))


def _union_find_labels(edges):
    """doc_id -> smallest doc_id of its component, by union-find."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_min_label_cc_matches_union_find_on_shuffled_path(spark):
    from my_mapreduce_spark.queries.dedup import min_label_cc

    near = spark.createDataFrame(_PATH_EDGES, "doc_a bigint, doc_b bigint")
    got = {r.doc_id: r.cluster_id
           for r in min_label_cc(spark, near).collect()}
    assert got == _union_find_labels(_PATH_EDGES)


def test_min_label_cc_raises_at_round_cap(spark, monkeypatch):
    from my_mapreduce_spark.caching import release_caches
    from my_mapreduce_spark.queries import dedup

    monkeypatch.setattr(dedup, "CC_MAX_ROUNDS", 2)
    near = spark.createDataFrame(_PATH_EDGES, "doc_a bigint, doc_b bigint")
    try:
        with pytest.raises(RuntimeError, match="not converged in 2 rounds"):
            dedup.min_label_cc(spark, near)
    finally:
        release_caches(spark, force_checkpointed=True)


def test_dedup_funnel_raises_at_round_cap(spark, tmp_path, monkeypatch):
    # six 7-word docs sliding one word at a time: neighbours share 4 of
    # 6 word-3-shingles (Jaccard 0.67), docs two apart 3 of 7 (0.43),
    # so the near-dup graph is a 6-node path; with the smallest id
    # mid-chain it needs 4 rounds
    import pandas as pd

    from my_mapreduce_spark.caching import release_caches
    from my_mapreduce_spark.queries import dedup

    texts = [" ".join(f"w{j}" for j in range(i, i + 7)) for i in range(6)]
    pd.DataFrame({"doc_id": [40, 12, 33, 7, 25, 18], "text": texts,
                  "lang": "en", "source": "web",
                  "n_chars": [len(t) for t in texts]}
                 ).to_parquet(tmp_path / "documents.parquet", index=False)
    sf_dir = str(tmp_path)
    # the funnel's caches are body-only: none may stay cached after it
    # returns or raises (the CC loop's checkpoint blocks are not caches)
    cache = spark._jsparkSession.sharedState().cacheManager()
    try:
        release_caches(spark)
        rows = {r.stage: (r.n_in, r.n_out, r.n_removed)
                for r in dedup.q_dedup_funnel(spark, sf_dir).collect()}
        assert rows["near_dup_collapse"] == (6, 1, 5)
        assert cache.isEmpty()
        monkeypatch.setattr(dedup, "CC_MAX_ROUNDS", 2)
        with pytest.raises(RuntimeError, match="not converged in 2 rounds"):
            dedup.q_dedup_funnel(spark, sf_dir)
        assert cache.isEmpty()
    finally:
        release_caches(spark, force_checkpointed=True)


def test_winnowing_shared_run_shares_fingerprint(spark):
    # the winnowing guarantee: two docs sharing a run of >= 6 tokens
    # (i.e. >= 4 consecutive shingles, one full window) share at
    # least one fingerprint. Construct the pair directly.
    from pyspark.sql import Window

    from my_mapreduce_spark.functions.text import shingles, tokens

    common = "alpha beta gamma delta epsilon zeta"  # 6-token shared run
    df = spark.createDataFrame(
        [(1, f"one two three {common} four five six"),
         (2, f"{common} seven eight nine ten eleven")],
        "doc_id int, text string")
    withw = df.select("doc_id", tokens().alias("w"))
    sh = withw.select(
        "doc_id", (F.size("w") - 2).alias("n_sh"),
        F.posexplode(shingles(F.col("w"))).alias("pos", "sh"),
    ).select("doc_id", "n_sh", "pos", F.md5("sh").alias("h"))
    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
    fps = (sh.withColumn("fp", F.min("h").over(win))
           .where(F.col("pos") <= F.col("n_sh") - 4)
           .select("doc_id", "fp").distinct())
    a = {r.fp for r in fps.where("doc_id = 1").collect()}
    b = {r.fp for r in fps.where("doc_id = 2").collect()}
    assert a & b, "winnowing must fingerprint a shared 6-token run"


def test_pack_bucket_width_bounds_second_level():
    # the bucket-totals relation (n // width rows) must stay under the
    # 65k target at ANY corpus size — this is the 100 TB contract
    from my_mapreduce_spark.queries.corpus_ops import (
        _PACK_L2_TARGET,
        _pack_bucket_width,
    )

    for n in (0, 1, 999, 65_536, 10**6, 10**9, 10**12, 10**14):
        w = _pack_bucket_width(n)
        assert w >= 1000
        assert n // w <= _PACK_L2_TARGET, (n, w)
    # a trillion docs: width ~15.3M, second level exactly at the cap
    assert _pack_bucket_width(10**12) == -(-10**12 // 65_536)


def test_pack_sequences_width_invariant(spark, monkeypatch):
    # pack assignment is a pure function of the doc_id-ordered token
    # stream — the bucket width is an execution detail and must not
    # leak into results
    from my_mapreduce_spark.queries.corpus_ops import q_pack_sequences

    def run(width):
        if width:
            monkeypatch.setenv("SPARK_GRAFT_PACK_WIDTH", str(width))
        else:
            monkeypatch.delenv("SPARK_GRAFT_PACK_WIDTH", raising=False)
        return {tuple(r) for r in q_pack_sequences(spark, SF_DIR).collect()}

    base = run(0)  # corpus-derived width
    assert base == run(7)
    assert base == run(100_000)  # one bucket: degenerate single-level
