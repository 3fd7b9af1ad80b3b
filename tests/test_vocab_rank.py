"""The range-partitioned two-pass global rank must equal the plain
global-window rank of its DuckDB oracle, at any partition count — the
proof that q_vocab_rank_scalable's distributed rank is the same total
order, just without the corpus-sized single task."""

from __future__ import annotations

from tests.conftest import SF_DIR


def _rows(df):
    return {(r.token, r.n, int(r.vocab_id)) for r in df.collect()}


def test_scalable_rank_equals_global_window(spark, duck):
    from my_mapreduce_spark.queries.pipeline_ext import q_vocab_rank_scalable
    from my_mapreduce_spark.registry import REGISTRY

    want = {(t, n, int(v)) for t, n, v in
            duck.sql(REGISTRY["q_vocab_rank_scalable"].oracle).fetchall()}
    assert want
    assert _rows(q_vocab_rank_scalable(spark, SF_DIR)) == want


def test_scalable_rank_partition_count_invariant(spark):
    from my_mapreduce_spark.queries.pipeline_ext import q_vocab_rank_scalable

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        few = _rows(q_vocab_rank_scalable(spark, SF_DIR))
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        many = _rows(q_vocab_rank_scalable(spark, SF_DIR))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert few == many
    # ranks are a dense 1..N permutation
    ranks = sorted(v for _, _, v in few)
    assert ranks == list(range(1, len(ranks) + 1))
