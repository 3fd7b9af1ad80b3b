"""Tile-count invariance + sizing contract for the tiled all-pairs
cosine dedup (q_dedup_embedding_cosine)."""

from __future__ import annotations

from tests.conftest import SF_DIR


def _pairs(df):
    return {(r.vec_a, r.vec_b, r.cosine) for r in df.collect()}


def test_result_invariant_under_tile_count(spark):
    """The tile count is a physical knob: any tiling must produce the
    identical pair set (each unordered pair scored exactly once)."""
    from my_mapreduce_spark.queries.dedup import q_dedup_embedding_cosine

    base = _pairs(q_dedup_embedding_cosine(spark, SF_DIR))
    assert base, "fixture should contain cosine>=0.4 pairs"
    for n_tiles in (1, 3, 5):
        alt = _pairs(q_dedup_embedding_cosine(spark, SF_DIR, n_tiles=n_tiles))
        assert alt == base, f"pair set changed at n_tiles={n_tiles}"


def test_tile_count_scales_with_corpus():
    """Tiles derive from corpus size (bounded per-task block), with a
    parallelism floor (the n_tiles parameter overrides it, see
    test_result_invariant_under_tile_count)."""
    from my_mapreduce_spark.queries.dedup import _n_tiles

    assert _n_tiles(2_000) == 8                      # floor: small corpus
    big = _n_tiles(10_000_000)
    assert big > 8                                   # grows with n ...
    assert _n_tiles(20_000_000) >= 2 * big - 1       # ... linearly-ish
