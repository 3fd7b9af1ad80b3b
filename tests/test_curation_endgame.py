"""q_curation_endgame — the composed curation funnel (round-10
verdict item 4). The DuckDB equality gate already proves the final
row set; these tests pin the COMPOSITION properties the hash can't
localize when they break: per-stage funnel counts, agreement with
the standalone stage operators, and the sample predicate.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from my_mapreduce_spark.queries.curation_ext import (_endgame_removed,
                                                     _endgame_survivors,
                                                     _endgame_tail,
                                                     q_curation_endgame)
from my_mapreduce_spark.queries.dedup import (exact_jaccard_pairs,
                                              min_label_cc)

SF_DIR = "/root/testdata/sf0.001"


def test_funnel_stage_counts(spark):
    """Stage-by-stage row counts at sf0.001 match the DuckDB funnel
    probe (500 -> 203 -> 203 -> 190 -> 60): quality filter, exact
    dedup, cluster collapse, sample."""
    d = _endgame_survivors(spark, SF_DIR).persist()
    assert d.count() == 203  # quality kept + exact dedup (0 collapsed)
    pairs, sets, rows = exact_jaccard_pairs(spark, SF_DIR, docs=d)
    labels = min_label_cc(spark, pairs.select("doc_a", "doc_b"))
    sets.unpersist()
    rows.unpersist()
    removed = _endgame_removed(d, labels).persist()
    assert removed.count() == 13
    out = _endgame_tail(d, removed)
    assert out.count() == 60
    removed.unpersist()
    d.unpersist()


def test_matches_standalone_stage_operators(spark):
    """The composed query's survivor set is exactly what chaining the
    standalone operators produces: every output doc passes the
    quality rational, is its normalized-hash group's minimum, is not
    a cluster non-representative, and passes the hash sample."""
    out = q_curation_endgame(spark, SF_DIR)
    rows = out.collect()
    assert {r.doc_id for r in rows} == {
        r.doc_id for r in _endgame_tail(
            _endgame_survivors(spark, SF_DIR),
            _endgame_removed(
                _endgame_survivors(spark, SF_DIR),
                min_label_cc(spark, exact_jaccard_pairs(
                    spark, SF_DIR,
                    docs=_endgame_survivors(spark, SF_DIR)
                )[0].select("doc_a", "doc_b")))).collect()}
    # sample predicate: md5 first hex digit 0-3 for every survivor
    for r in rows:
        import hashlib
        h = hashlib.md5(str(r.doc_id).encode()).hexdigest()
        assert h[0] in "0123"


def test_cluster_reps_kept_are_longest(spark):
    """Within every near-dup cluster that intersects the output, the
    kept member is the cluster's longest doc (ties to smallest id) —
    the q_dedup_cluster_reps contract carried into the composition."""
    d = _endgame_survivors(spark, SF_DIR).persist()
    pairs, sets, rows = exact_jaccard_pairs(spark, SF_DIR, docs=d)
    labels = min_label_cc(spark, pairs.select("doc_a", "doc_b"))
    sets.unpersist()
    rows.unpersist()
    memb = labels.join(d.select("doc_id", "n_chars"), "doc_id").collect()
    removed = {r.doc_id for r in _endgame_removed(d, labels).collect()}
    by_cluster: dict[int, list] = {}
    for r in memb:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    assert by_cluster  # fixture has near-dup clusters
    for members in by_cluster.values():
        best = min(members, key=lambda r: (-r.n_chars, r.doc_id))
        assert best.doc_id not in removed
        assert {r.doc_id for r in members} - {best.doc_id} <= removed
    d.unpersist()
