"""Record-linkage comparators: the Jaro/Jaro-Winkler kernel
(functions/linkage.py) pinned against textbook values AND bit-for-bit
against DuckDB's jaro_winkler_similarity (the q_jaro_winkler_blocked
oracle engine), plus the sorted-neighborhood pair-count contract.

The cross-engine conventions these tests exist to keep honest:
- transpositions are FLOORED (mismatches // 2) — textbook
  half-as-float diverges on odd mismatch counts;
- Winkler prefix boost only above jaro 0.7;
- either side empty -> 0.0 (both-empty included).
"""

from __future__ import annotations

import random

import duckdb
import pandas as pd
import pytest

from my_mapreduce_spark.functions.linkage import jaro_batch

TEXTBOOK = [
    # (s1, s2, jaro, jaro_winkler) — classic published examples
    ("MARTHA", "MARHTA", 17 / 18, 0.9611111111111111),
    ("DWAYNE", "DUANE", 0.8222222222222222, 0.84),
    ("DIXON", "DICKSONX", 0.7666666666666666, 0.8133333333333332),
    ("CRATE", "TRACE", 0.7333333333333333, 0.7333333333333333),
    ("abc", "abc", 1.0, 1.0),
    ("a", "b", 0.0, 0.0),
]


def _jw(a: str, b: str, winkler: bool = True) -> float:
    return float(jaro_batch(pd.Series([a]), pd.Series([b]),
                            winkler=winkler)[0])


@pytest.mark.parametrize("s1,s2,jaro,jw", TEXTBOOK)
def test_textbook_values(s1, s2, jaro, jw):
    assert _jw(s1, s2, winkler=False) == pytest.approx(jaro, abs=1e-12)
    assert _jw(s1, s2) == pytest.approx(jw, abs=1e-12)


def test_empty_conventions():
    assert _jw("", "") == 0.0          # DuckDB: both-empty is 0
    assert _jw("abc", "") == 0.0
    assert _jw("", "abc") == 0.0


def test_boost_only_above_threshold():
    # jaro('aXXXXX','aYYYYY') = 4/9 < 0.7: shared prefix must NOT
    # boost (the Winkler boost-threshold convention)
    assert _jw("aXXXXX", "aYYYYY") == _jw("aXXXXX", "aYYYYY",
                                          winkler=False)


def test_floored_transpositions():
    # greedy matching of ' ge' into 'e gear' yields 3 mismatched
    # matched positions; DuckDB/rapidfuzz floor to t=1 where the
    # textbook half-as-float uses 1.5 — this case pins the floor
    got = _jw(" ge", "e gear", winkler=False)
    assert got == pytest.approx(0.7222222222222222, abs=1e-12)


def test_empty_batch():
    assert len(jaro_batch(pd.Series([], dtype=object),
                          pd.Series([], dtype=object))) == 0


def test_null_inputs_are_empty_strings():
    out = jaro_batch(pd.Series([None, "abc"]),
                     pd.Series(["abc", None]))
    assert list(out) == [0.0, 0.0]


def test_bit_equality_vs_duckdb():
    """Randomized sweep: the kernel must agree with DuckDB's
    jaro_winkler_similarity to the LAST BIT (not approx) — the
    q_jaro_winkler_blocked oracle hashes rounded values, so any ulp
    drift would surface as a flaky value-hash mismatch."""
    con = duckdb.connect()
    names = [r[0] for r in con.sql(
        "SELECT p_name FROM "
        "read_parquet('/root/testdata/sf0.01/part.parquet')"
    ).fetchall()]
    rnd = random.Random(7)
    pairs = [(rnd.choice(names), rnd.choice(names))
             for _ in range(2000)]
    pairs += [(n, n) for n in names[:25]] + [("", ""), ("x", "")]
    df = pd.DataFrame({"a": [p[0] for p in pairs],
                       "b": [p[1] for p in pairs]})
    duck = con.sql(
        "SELECT jaro_winkler_similarity(a, b) AS jw,"
        "       jaro_similarity(a, b) AS j FROM df").df()
    mine_jw = jaro_batch(df["a"], df["b"])
    mine_j = jaro_batch(df["a"], df["b"], winkler=False)
    assert (mine_jw == duck["jw"].to_numpy()).all()
    assert (mine_j == duck["j"].to_numpy()).all()


def test_sorted_neighborhood_pair_count(spark):
    """Sorted-neighborhood candidates are exactly (w-1)*n - w*(w-1)/2
    pairs for n records and window w (each rank pairs forward with
    min(w-1, n-rank) neighbors) — the O(w*n) bound that is the
    operator's whole point, independent of key skew."""
    from my_mapreduce_spark.queries.coverage_ext import (
        _SN_WINDOW, q_sorted_neighborhood_pairs)

    sf = "/root/testdata/sf0.001"
    n = spark.read.parquet(f"{sf}/part.parquet").count()
    got = q_sorted_neighborhood_pairs(spark, sf)
    w = _SN_WINDOW
    assert got.count() == (w - 1) * n - w * (w - 1) // 2
    # no self-pairs, no rank-order violations
    assert got.where("key_a = key_b").count() == 0
    assert got.where(f"window_dist < 1 OR window_dist > {w - 1}"
                     ).count() == 0


def test_comparator_runs_once_after_the_exchange(spark):
    """The query's own plan evaluates the jw UDF in one node, right
    above the repartition exchange that spreads the blocked pairs
    across cores — not a second time below it."""
    from my_mapreduce_spark.queries.coverage_ext import (
        q_jaro_winkler_blocked)

    df = q_jaro_winkler_blocked(spark, "/root/testdata/sf0.001")
    lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
    udf = [i for i, line in enumerate(lines) if "ArrowEvalPython" in line]
    assert len(udf) == 1, "\n".join(lines)
    assert lines[udf[0] + 1].lstrip(" :+-").startswith("Exchange "), \
        "\n".join(lines)


# -- property: the kernel equals DuckDB on ARBITRARY strings ---------

from hypothesis import given, settings
from hypothesis import strategies as st

_alpha = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FA0),
    max_size=24)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(_alpha, _alpha), min_size=1, max_size=40))
def test_kernel_matches_duckdb_on_arbitrary_strings(pairs):
    """Bit-equality vs DuckDB must hold for arbitrary codepoints and
    lengths (not just fixture names): hypothesis drives the greedy
    window, transposition floor, prefix boost, and empty conventions
    through adversarial cases in one shot."""
    df = pd.DataFrame({"a": [p[0] for p in pairs],
                       "b": [p[1] for p in pairs]})
    con = duckdb.connect()
    duck = con.sql(
        "SELECT jaro_winkler_similarity(a, b) AS jw,"
        "       jaro_similarity(a, b) AS j FROM df").df()
    assert (jaro_batch(df["a"], df["b"])
            == duck["jw"].to_numpy()).all()
    assert (jaro_batch(df["a"], df["b"], winkler=False)
            == duck["j"].to_numpy()).all()


def test_soundex_oracle_matches_spark_on_adversarial_tokens(
        spark, tmp_path):
    """The q_soundex_phonetic_keys oracle reimplements Soundex in
    DuckDB list algebra; this pin feeds both engines a corpus of
    H/W-bridge adversaries (runs of transparent letters, 'phhp'
    collapses through TWO h's — the one-step-lookback bug class)
    plus random tokens, and requires the full key histograms to be
    identical."""
    import duckdb

    from my_mapreduce_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    toks = ("phhp bwwb hp wb ahb ahhb hwhw bhwb bhab cwc shh who how "
            "ha robert ashcraft tymczak pfister honeyman jackal "
            "pfeiffer schwarz wright whyte aeiou bcd xxxx zzzzzz "
            "hallway")
    base = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
    row = base.limit(1).collect()[0].asDict()
    row["doc_id"], row["text"] = 1, toks
    out = str(tmp_path)
    spark.createDataFrame([row], base.schema).write.parquet(
        f"{out}/documents.parquet")
    got = {tuple(r) for r in
           REGISTRY["q_soundex_phonetic_keys"].fn(spark, out).collect()}
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"'{out}/documents.parquet/*.parquet'")
    want = {tuple(r) for r in
            con.sql(REGISTRY["q_soundex_phonetic_keys"].oracle).fetchall()}
    assert got == want


def test_canopy_fanout_is_capped(spark):
    """The canopy generator's scale claim: no canopy key can exceed
    _CANOPY_MAX_DF docs (the df filter IS the bound), so per-pair
    shared-key counts are bounded by the 2*_CANOPY_K keys the two
    docs contribute, and total candidates are O(K * cap * n)."""
    from my_mapreduce_spark.queries.dedup import (
        _CANOPY_K, _CANOPY_MAX_DF, q_canopy_rare_shingle_pairs)

    sf = "/root/testdata/sf0.01"
    pairs = q_canopy_rare_shingle_pairs(spark, sf)
    assert pairs.where(
        f"n_shared_keys > {2 * _CANOPY_K}").count() == 0
    n_docs = spark.read.parquet(f"{sf}/documents.parquet").count()
    assert pairs.count() <= _CANOPY_K * (_CANOPY_MAX_DF - 1) * n_docs
