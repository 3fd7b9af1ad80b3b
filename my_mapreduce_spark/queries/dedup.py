"""Deduplication operators over ``documents`` (SURVEY.md §2D).

Five dedup families, each a first-class query with a bit-exact
DuckDB oracle (all hashing is md5-based precisely so the oracle can
replicate signatures — see functions/text.py):

- exact          — content-hash groupBy (q_dedup_exact)
- n-gram Jaccard — exact near-dup pairs via shingle-set overlap
- MinHash + LSH  — banded signature join, the scale path
- SimHash        — 60-bit fingerprints + banded Hamming join
- embedding      — cosine near-dup pairs over the vector table

Scale posture (100 TB): exact dedup and MinHash-LSH are linear scans
plus key-colocated shuffles — they are THE production path. The
exact-Jaccard pair join is quadratic in docs sharing a shingle and
exists as the verifier / small-corpus path; its oracle-facing
completeness is what LSH recall is measured against (tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from my_mapreduce_spark.functions.text import minhash_expr, shingles, tokens
from my_mapreduce_spark.io import load_table, widen_unsplittable_scan
from my_mapreduce_spark.registry import register, register_audit_plan
from my_mapreduce_spark.session import shuffle_partitions

_N_MINHASH = 9          # 3 bands x 3 rows
_BANDS = ((0, 1, 2), (3, 4, 5), (6, 7, 8))
_MIN_MATCHES = 5        # report pairs with >=5/9 matching components
_CW_PRIME = 2147483647  # 2^31-1: a*h1 + b*h2 + c stays under 2^61
_CW_SEED = 42


def _cw_params(n: int, seed: int = _CW_SEED) -> tuple[list, int]:
    """n deterministic 2-universal (a, b, c) triples mod _CW_PRIME.

    The permutation input is a 56-BIT shingle key split into two
    28-bit halves (h1, h2) so the key space does not saturate at
    web-scale shingle cardinality (a single 32-bit key collides
    ~n^2/2^33 times — material Jaccard bias past ~10^8 distinct
    shingles; 56 bits pushes that past 10^8^1.75). Each permutation
    is (a*h1 + b*h2 + c) mod p with a,b,c < p=2^31-1: every product
    is < 2^59 and the sum < 2^61, exact in int64 on BOTH engines —
    no decimal/int128 needed."""
    import random

    rnd = random.Random(seed)
    return ([(rnd.randrange(1, _CW_PRIME), rnd.randrange(1, _CW_PRIME),
              rnd.randrange(_CW_PRIME)) for _ in range(n)], _CW_PRIME)


def _cw_params4(n: int, seed: int = _CW_SEED + 13) -> tuple[list, int]:
    """n deterministic (a, b, d, c) quadruples mod _CW_PRIME for the
    ARITHMETIC-REPLICA weighted scheme: permutation i of replica r of
    a shingle with 28-bit md5 halves (h1, h2) is
    (a*h1 + b*h2 + d*r + c) mod p. Magnitudes: a*h1, b*h2 < 2^59 and
    d*r < 2^36 (replica counts are idf-bounded, r <= ln N ~ 26 even
    at 10^11 docs), so the sum stays under 2^60 — exact int64 on both
    engines, same budget argument as :func:`_cw_params`."""
    import random

    rnd = random.Random(seed)
    return ([(rnd.randrange(1, _CW_PRIME), rnd.randrange(1, _CW_PRIME),
              rnd.randrange(1, _CW_PRIME), rnd.randrange(_CW_PRIME))
             for _ in range(n)], _CW_PRIME)


def _shingle_rows(spark: SparkSession, sf_dir: str,
                  docs: DataFrame | None = None,
                  hashed: bool = False) -> DataFrame:
    """Distinct (doc_id, shingle) pairs — the common input of every
    shingle-based dedup query. ``docs`` overrides the source relation
    (the dedup funnel and the curation endgame shingle only their
    dedup SURVIVORS, so the pair join never sees removed rows — those
    relations arrive already shuffle-parallel, so only the
    self-loaded scan is widened).

    ``hashed=True`` replaces the shingle STRING with its xxhash64
    BIGINT **before** the distinct, for consumers that only ever test
    shingle equality and never emit the string (round-11 verdict
    item 6, the q_dedup_icws precedent at the _ICWS sampler): the
    distinct exchange, every df aggregate, every join-back, and any
    persist() of this relation then carry 8 bytes per shingle instead
    of a ~20-byte string — at 100 TB the difference between spilling
    the tokenized corpus per query and holding a hash column. Two
    distinct shingles of one doc colliding would merge (changing a
    set size) with odds ~n_shingles^2/2^64 ~ 1e-15 per doc — the same
    odds bound the pre-existing 60-bit _tok60 verification arrays
    carry, now strictly better at 64 bits. GLOBAL aggregates over the
    hashed column (df counts, q_ngram_novelty_curve's first-seen)
    follow a separate birthday bound: ~N^2/2^65 merged pairs among N
    distinct shingles corpus-wide — none at the fixtures, ~3e4 at
    N ~ 1e12 (the 100 TB posture). It stays immaterial: merged
    shingles are a ~N/2^65 share (~3e-8 at 1e12) of the rows any df
    or first-seen count is taken over. Consumers whose ORACLE
    pins a (df, shingle-string) ordering or md5 of the shingle string
    keep strings, each call site naming its pinning term: the md5
    MinHash family (q_dedup_minhash_lsh, q_dedup_incremental,
    q_source_minhash_sim, the q_streaming_near_dup signer), the cw
    md5 halves (q_dedup_minhash_lsh_prod, q_dedup_weighted_minhash),
    q_dedup_icws's _tok60 sampler key, and the (df, shingle) order of
    q_canopy_rare_shingle_pairs and q_dedup_funnel_stages."""
    if docs is None:
        # single-row-group fixture parquet plans the scan as ONE task,
        # serializing the tokenize+shingle explode for every consumer
        # of this helper; widen is a guarded no-op on split inputs
        docs = widen_unsplittable_scan(
            load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    withw = docs.select("doc_id", tokens().alias("w")).where(F.size("w") >= 3)
    rows = withw.select("doc_id",
                        F.explode(shingles(F.col("w"))).alias("shingle"))
    if hashed:
        rows = rows.select("doc_id", F.xxhash64("shingle").alias("shingle"))
    return rows.distinct()


# SQL twin of _shingle_rows, embedded by every oracle below.
_SHINGLES_CTE = """
    t AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '[^a-z0-9]+'), x -> x <> '') AS w
        FROM documents),
    s AS (
        SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
        FROM t, UNNEST(range(1, len(w) - 1)) AS u(i)
        WHERE len(w) >= 3)
"""


@register(
    "q_dedup_exact",
    oracle="""
    SELECT COUNT(*)                                   AS n_docs,
           COUNT(DISTINCT md5(text))                  AS n_distinct,
           CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS n_dup_docs
    FROM documents
    """,
    tags=("dedup", "exact"),
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup summary: docs, distinct contents (by md5), and
    how many rows dedup would drop. One linear scan + hash agg;
    at 100 TB this is a map-side-partial count-distinct."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct(F.md5("text")).alias("n_distinct"),
        (F.count(F.lit(1)) - F.count_distinct(F.md5("text"))).alias("n_dup_docs"),
    )


@register(
    "q_dedup_exact_pairs",
    oracle="""
    WITH h AS (SELECT doc_id, md5(text) AS h FROM documents)
    SELECT k.h AS content_md5, k.keep_doc_id, d.doc_id AS dup_doc_id
    FROM (SELECT h, MIN(doc_id) AS keep_doc_id FROM h GROUP BY h) k
    JOIN h d ON d.h = k.h AND d.doc_id > k.keep_doc_id
    """,
    tags=("dedup", "exact"),
)
def q_dedup_exact_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first exact dedup decisions: for every duplicated
    content hash, the canonical (minimum) doc_id and each doc it
    replaces. Empty when the corpus has no exact dups (sf<=0.01);
    non-empty at sf0.1."""
    docs = load_table(spark, sf_dir, "documents")
    h = docs.select("doc_id", F.md5("text").alias("h"))
    keep = h.groupBy("h").agg(F.min("doc_id").alias("keep_doc_id"))
    return (h.join(keep, "h")
            .where(F.col("doc_id") > F.col("keep_doc_id"))
            .select(F.col("h").alias("content_md5"), "keep_doc_id",
                    F.col("doc_id").alias("dup_doc_id")))


@register(
    "q_dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sz AS (SELECT doc_id, COUNT(*) AS n FROM s GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
    SELECT doc_a, doc_b, n_common,
           ROUND(n_common * 1.0 / (x.n + y.n - n_common), 6) AS jaccard
    FROM pairs JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
    WHERE n_common * 1.0 / (x.n + y.n - n_common) >= 0.6
    """,
    tags=("dedup", "near-dup", "jaccard"),
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup pairs: word-3-gram shingle sets, Jaccard >=
    0.6. Complete by construction (every qualifying pair shares a
    shingle, so the shingle self-join finds it) — this is the
    ground truth the MinHash-LSH path is measured against.

    Scale note: the self-join fans out on common shingles; the
    distinct() and the 0.6 threshold keep it bounded here, but at
    100 TB you run q_dedup_minhash_lsh first and reserve this as
    the verifier on its candidates.
    """
    # persisted: s feeds three consumers (sz and both join sides)
    # whose aggregate shapes differ, so no exchange is reusable and
    # an unpersisted s re-runs the scan+explode+distinct pipeline
    # per consumer (guide §5 cache test: reused AND expensive;
    # caller releases via release_caches, caching.py contract);
    # hashed: only equality is tested, no string reaches the output
    s = _shingle_rows(spark, sf_dir, hashed=True).persist()
    sz = s.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = s.alias("a")
    b = s.alias("b")
    pairs = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common") / (F.col("x.n") + F.col("y.n") - F.col("n_common"))
    return (
        pairs.join(sz.alias("x"), F.col("doc_a") == F.col("x.doc_id"))
        .join(sz.alias("y"), F.col("doc_b") == F.col("y.doc_id"))
        .where(jac >= 0.6)
        .select("doc_a", "doc_b", "n_common", F.round(jac, 6).alias("jaccard"))
    )


@register(
    "q_dedup_containment",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sz AS (SELECT doc_id, COUNT(*) AS n FROM s GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
    SELECT doc_a, doc_b, x.n AS n_a, y.n AS n_b, n_common,
           CASE WHEN n_common = x.n AND n_common = y.n THEN 'mutual'
                WHEN n_common = x.n THEN 'a_in_b'
                ELSE 'b_in_a' END AS contained,
           ROUND(n_common * 1.0 / LEAST(x.n, y.n), 6) AS containment
    FROM pairs JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
    WHERE n_common = LEAST(x.n, y.n)
    """,
    tags=("dedup", "near-dup", "containment"),
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment dedup: pairs where one document's entire shingle
    set is a subset of the other's — the quote/excerpt/boilerplate
    case symmetric Jaccard MISSES (a paragraph embedded in a long
    page scores near-zero Jaccard but 1.0 containment).

    Candidate generation is the ASYMMETRIC prefix filter the overlap
    literature derives for containment (threshold t=1 collapses the
    ppjoin prefix to length n - ceil(t*n) + 1 = 1): if A is a subset
    of B, A's globally RAREST shingle is necessarily somewhere in B,
    so joining each doc's single rarest shingle (probe side) against
    ALL shingle occurrences (index side) is lossless — candidate
    volume is sum over docs of (df(rarest shingle) - 1), collision-
    bounded exactly like the symmetric prefix filter, never the
    hot-shingle-quadratic self-join this query shipped through
    round 7. Fixture-scale amplification is a wash (28.8x vs 27.9x
    — the array-verification bytes dominate on a dup-saturated 5k
    corpus); the change is STRUCTURAL: pair-group volume no longer
    grows with the square of any hot shingle's df, the failure mode
    that prices the brute join out at 100 TB.
    The probe pairs then take the one-sided suffix bound at t = 1
    (``_probe_pairs``): a candidate survives only if every bitmap
    bucket of the smaller set is occupied in the larger one.
    Verification: one ``array_intersect`` over the 64-bit xxhash64
    shingle arrays per candidate, full containment iff the
    intersection size equals the smaller set's size; the size filter
    ``n_big >= n_small`` and the final distinct (equal-size mutual
    pairs generate in both directions) complete it. Arrays ride
    merge-hinted joins (the never-broadcast discipline,
    ``_intersect``). Oracle: the brute-force all-shared-shingle
    join, value-identical by the losslessness argument.
    """
    # hashed: the containment argument ("A's designated-rarest element
    # is in B") is lossless under ANY consistent total order, and no
    # string reaches the output; at t = 1 the prefix is one shingle
    sets = _df_sets(_shingle_rows(spark, sf_dir, hashed=True), 1, 1)
    ver = (_intersect(_probe_pairs(sets, 1, 1), sets)
           .where(F.col("n_common") == F.col("na")))
    return _smaller_id_first(
        ver,
        F.when(F.col("na") == F.col("nb"), "mutual")
        .when(F.col("doc_a") < F.col("doc_b"), "a_in_b")
        .otherwise("b_in_a").alias("contained"),
        F.round(F.col("n_common") / F.col("na"), 6).alias("containment"))


def _minhash_oracle(n_bands: int = len(_BANDS),
                    n_rows: int = len(_BANDS[0]),
                    min_matches: int = _MIN_MATCHES) -> str:
    """SQL twin of minhash_lsh_pairs at any (bands, rows, threshold)
    — every hash md5, so the oracle reproduces signatures, bands,
    candidates, and estimates bit-for-bit."""
    n = n_bands * n_rows
    mins = ",\n               ".join(
        f"MIN(md5('{i}|' || shingle)) AS m{i}" for i in range(n))
    bands = ",\n               ".join(
        "md5(" + " || ".join(f"m{j * n_rows + k}" for k in range(n_rows))
        + f") AS b{j}" for j in range(n_bands))
    band_union = "\n        UNION ALL\n".join(
        f"        SELECT doc_id, {j} AS band_idx, b{j} AS band_hash FROM sig"
        for j in range(n_bands))
    matches = " + ".join(
        f"CASE WHEN x.m{i} = y.m{i} THEN 1 ELSE 0 END" for i in range(n))
    return f"""
    WITH {_SHINGLES_CTE},
    sig0 AS (
        SELECT doc_id,
               {mins}
        FROM s GROUP BY doc_id),
    sig AS (
        SELECT *,
               {bands}
        FROM sig0),
    bands AS (
{band_union}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b,
           CAST({matches} AS BIGINT) AS n_matches,
           ROUND(({matches}) / {n}.0, 6) AS est_jaccard
    FROM cand
    JOIN sig x ON doc_a = x.doc_id
    JOIN sig y ON doc_b = y.doc_id
    WHERE {matches} >= {min_matches}
    """


def minhash_lsh_pairs(shingle_df: DataFrame, n_bands: int = 3,
                      n_rows: int = 3,
                      min_matches: int | None = None,
                      scheme: str = "md5") -> DataFrame:
    """Parametrized banded MinHash-LSH over any (doc_id, shingle)
    relation — the (bands, rows) FIDELITY KNOB: candidate
    probability for a pair at true Jaccard s is 1-(1-s^rows)^bands,
    so 3x3 (9 perms) targets s≈0.8 detection while production
    near-dup at a 0.7 threshold runs 16x4 or 32x4 (64/128 perms) for
    a sharper S-curve. Components are md5('<seed>|'||shingle)
    minima; band j hashes components [j*rows, (j+1)*rows). Widening
    bands strictly grows the candidate set (band prefixes are
    shared), so fidelity can be raised without re-running lower
    configs. Cost stays banded: candidates come from a (band_idx,
    band_hash) equi-join — a key-colocated shuffle, never all-pairs.
    Returns (doc_a, doc_b, n_matches, est_jaccard); min_matches
    filters on matching components when given. The signature relation
    is cached (returned-plan cache — caller releases, caching.py).

    scheme="md5" (default): each component is min(md5(seed||shingle))
    — n md5 calls per shingle, simple and fully hash-independent.
    scheme="cw": 2-universal permutations min((a*h1 + b*h2 + c) mod
    p) over ONE md5-derived 56-bit shingle key split into two 28-bit
    halves (p = 2^31-1; every term under 2^59, exact in int64 on
    both engines) — the production-fidelity path, where 64+
    permutations cost 1 md5 + n multiply-adds per shingle instead of
    n md5s, and the 56-bit key space does not saturate at web-scale
    shingle cardinality. Both schemes are deterministic and
    bit-reproducible in the DuckDB oracles.
    """
    n = n_bands * n_rows
    if scheme == "md5":
        sig = _band_hashes(_minhash_sig(shingle_df, n), n_bands, n_rows)
    else:  # Carter-Wegman: 1 md5 + n multiply-adds per shingle
        params, prime = _cw_params(n)
        md = F.md5("shingle")
        h1 = F.conv(F.substring(md, 1, 7), 16, 10).cast("bigint")
        h2 = F.conv(F.substring(md, 8, 7), 16, 10).cast("bigint")
        sig = shingle_df.groupBy("doc_id").agg(
            *[F.min((F.lit(a) * h1 + F.lit(b) * h2 + F.lit(c)) % prime)
              .alias(f"m{i}") for i, (a, b, c) in enumerate(params)])
        sig = _band_hashes(sig, n_bands, n_rows, _cw_band)
    return _banded_pairs(sig, n, n_bands, min_matches)


# The banded MinHash-LSH steps. Every banded near-dup query composes
# these: sign (_minhash_sig), hash bands (_band_hashes), explode band
# rows (_band_rows), join on the band key (_band_join, the caller's
# orientation), then verify (_verified, _n_matches).

def _minhash_sig(shingles: DataFrame, n: int,
                 key: str = "doc_id") -> DataFrame:
    """(key, m0..m{n-1}): the md5 MinHash signature of each key's
    (key, shingle) rows, component i = min(md5('<i>|' || shingle))."""
    return shingles.groupBy(key).agg(
        *[minhash_expr(i).alias(f"m{i}") for i in range(n)])


def _cw_band(*ms):
    """Band string of the integer schemes: '|'-joined decimal
    components (the oracles' ``CAST(m AS VARCHAR) || '|' ...``)."""
    return F.concat_ws("|", *[m.cast("string") for m in ms])


def _band_hashes(sig: DataFrame, n_bands: int, n_rows: int,
                 band=F.concat) -> DataFrame:
    """``sig`` plus b{j} = md5(band(components [j*rows, (j+1)*rows)))
    for each band j; ``band`` builds the band string (plain concat of
    the md5 hex components, or :func:`_cw_band`)."""
    for j in range(n_bands):
        sig = sig.withColumn(f"b{j}", F.md5(band(*[
            F.col(f"m{j * n_rows + k}") for k in range(n_rows)])))
    return sig


def _band_rows(sig: DataFrame, bands: list) -> DataFrame:
    """(doc_id, band_idx, band_hash): one row per doc and band, band
    j keyed by the column ``bands[j]``."""
    return sig.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(F.lit(j).alias("band_idx"), h.alias("band_hash"))
            for j, h in enumerate(bands)])).alias("bh"),
    ).select("doc_id", "bh.band_idx", "bh.band_hash")


def _band_join(a: DataFrame, b: DataFrame, on) -> DataFrame:
    """Band rows ``a`` and ``b`` (aliased a, b) joined on (band_idx,
    band_hash) and the caller's candidate orientation ``on`` — a
    key-colocated equi-join, never all-pairs."""
    return a.alias("a").join(
        b.alias("b"),
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.band_hash") == F.col("b.band_hash")) & on)


def _n_matches(n: int):
    """Matching signature components m0..m{n-1} of the pair x, y."""
    return sum(F.when(F.col(f"x.m{i}") == F.col(f"y.m{i}"), 1).otherwise(0)
               for i in range(n))


def _verified(cand: DataFrame, sig: DataFrame, n: int,
              min_matches: int | None) -> DataFrame:
    """(doc_a, doc_b, n_matches, est_jaccard) of the candidate pairs
    ``cand`` (doc_a, doc_b): both signatures joined back, components
    counted, pairs under ``min_matches`` dropped when it is given."""
    n_matches = _n_matches(n)
    out = (cand.join(sig.alias("x"), F.col("doc_a") == F.col("x.doc_id"))
           .join(sig.alias("y"), F.col("doc_b") == F.col("y.doc_id"))
           .select("doc_a", "doc_b",
                   n_matches.cast("bigint").alias("n_matches"),
                   F.round(n_matches / float(n), 6).alias("est_jaccard")))
    if min_matches is not None:
        out = out.where(F.col("n_matches") >= min_matches)
    return out


def _banded_pairs(sig: DataFrame, n: int, n_bands: int,
                  min_matches: int | None) -> DataFrame:
    """The self-join LSH tail over a band-hashed signature relation
    (doc_id, m0..m{n-1}, b0..b{n_bands-1}): band rows, doc_a < doc_b
    candidates, verification. Shared by every scheme of
    minhash_lsh_pairs and by q_dedup_weighted_minhash."""
    sig = sig.cache()  # reused by the band explode and both pair-side joins
    bands = _band_rows(sig, [F.col(f"b{j}") for j in range(n_bands)])
    cand = (_band_join(bands, bands, F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())
    return _verified(cand, sig, n, min_matches)


@register(
    "q_dedup_minhash_lsh",
    oracle=_minhash_oracle(),
    tags=("dedup", "near-dup", "minhash", "lsh"),
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup detection — THE scale path for dedup.

    9 md5-permutation MinHash components per doc (one aggregation
    pass over distinct shingles), banded 3x3; candidate pairs are
    docs sharing any band hash (an equi-join on (band, hash) — a
    key-colocated shuffle, never a cross join); reported pairs have
    >=5/9 matching components (estimated Jaccard >= 0.56). The 3x3
    instance of :func:`minhash_lsh_pairs` — raise (bands, rows) for
    lower-threshold production dedup (recall curve pinned by
    tests/test_minhash_fidelity.py).

    Every hash is md5-derived, so the DuckDB oracle reproduces the
    exact signatures, bands, candidates, and estimates.
    """
    # shingle strings: the oracle's md5('<seed>|' || shingle) components
    return minhash_lsh_pairs(_shingle_rows(spark, sf_dir),
                             n_bands=len(_BANDS), n_rows=len(_BANDS[0]),
                             min_matches=_MIN_MATCHES)


def _minhash_oracle_cw(n_bands: int, n_rows: int,
                       min_matches: int,
                       cte: str = _SHINGLES_CTE,
                       rel: str = "s") -> str:
    """SQL twin of minhash_lsh_pairs(scheme="cw") — the shingle hash
    and every Carter-Wegman permutation are exact int64 arithmetic,
    reproduced verbatim. ``cte``/``rel`` let callers swap in a
    different (doc_id, shingle) source relation (the weighted-
    replication expansion of q_dedup_weighted_minhash)."""
    n = n_bands * n_rows
    params, prime = _cw_params(n)
    mins = ",\n               ".join(
        f"MIN(({a} * h1 + {b} * h2 + {c}) % {prime}) AS m{i}"
        for i, (a, b, c) in enumerate(params))
    bands = ",\n               ".join(
        "md5(" + " || '|' || ".join(
            f"CAST(m{j * n_rows + k} AS VARCHAR)" for k in range(n_rows))
        + f") AS b{j}" for j in range(n_bands))
    band_union = "\n        UNION ALL\n".join(
        f"        SELECT doc_id, {j} AS band_idx, b{j} AS band_hash FROM sig"
        for j in range(n_bands))
    matches = " + ".join(
        f"CASE WHEN x.m{i} = y.m{i} THEN 1 ELSE 0 END" for i in range(n))
    return f"""
    WITH {cte},
    sh AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(shingle), 1, 7)) AS BIGINT) AS h1,
               CAST(('0x' || substr(md5(shingle), 8, 7)) AS BIGINT) AS h2
        FROM {rel}),
    sig0 AS (
        SELECT doc_id,
               {mins}
        FROM sh GROUP BY doc_id),
    sig AS (
        SELECT *,
               {bands}
        FROM sig0),
    bands AS (
{band_union}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b,
           CAST({matches} AS BIGINT) AS n_matches,
           ROUND(({matches}) / {n}.0, 6) AS est_jaccard
    FROM cand
    JOIN sig x ON doc_a = x.doc_id
    JOIN sig y ON doc_b = y.doc_id
    WHERE {matches} >= {min_matches}
    """


_PROD_BANDS, _PROD_ROWS = 16, 4   # 64 perms: P[cand] at s=0.7 is 0.994
_PROD_MIN_MATCHES = 45            # report est_jaccard >= 45/64 = 0.703


@register(
    "q_dedup_minhash_lsh_prod",
    oracle=_minhash_oracle_cw(_PROD_BANDS, _PROD_ROWS, _PROD_MIN_MATCHES),
    tags=("dedup", "near-dup", "minhash", "lsh", "production"),
)
def q_dedup_minhash_lsh_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION operating point of the MinHash fidelity knob:
    16 bands x 4 rows (64 md5 permutations), reporting pairs with
    >= 45/64 matching components (estimated Jaccard >= 0.703).

    Where the 9-perm q_dedup_minhash_lsh is tuned for s~0.8
    detection, this config holds the banding S-curve steep around a
    0.7 dedup threshold: P[candidate] = 1-(1-s^4)^16 is 0.994 at
    s=0.7 but only 0.23 at s=0.4 — high recall at the operating
    threshold, strong pruning below it (the recall curve is measured
    against theory in tests/test_minhash_fidelity.py). Same banded
    plan shape as the 3x3 instance — one signature aggregation pass,
    a (band_idx, band_hash) equi-join for candidates, never
    all-pairs — so cost scales with collisions, not corpus^2. The
    64 permutations use the Carter-Wegman scheme (scheme="cw": one
    md5-derived 56-bit key + 64 exact-int64 multiply-adds per
    shingle, ~2.5x cheaper than 64 md5-min aggregates); the oracle
    reproduces every permutation and band hash bit-for-bit.
    """
    # shingle strings: the oracle's cw md5(shingle) halves h1, h2
    return minhash_lsh_pairs(_shingle_rows(spark, sf_dir),
                             n_bands=_PROD_BANDS, n_rows=_PROD_ROWS,
                             min_matches=_PROD_MIN_MATCHES, scheme="cw")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 60          # 15 md5 nibbles; keeps the value in a signed int64
_HAMMING_MAX = 3            # report pairs within this distance
_N_SIMHASH_BANDS = 4        # pigeonhole: d<=3 => >=1 of 4 bands equal


def _simhash_oracle() -> str:
    return f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '[^a-z0-9]+'), x -> x <> '') AS w
        FROM documents),
    tok AS (
        SELECT doc_id, md5(tok) AS h
        FROM (SELECT doc_id, UNNEST(w) AS tok FROM t)),
    bits AS (
        SELECT doc_id, j,
               ((strpos('0123456789abcdef', substr(h, 1 + j // 4, 1)) - 1)
                 >> (j % 4)) & 1 AS bit
        FROM tok, UNNEST(range(0, {_SIMHASH_BITS})) AS u(j)),
    acc AS (
        SELECT doc_id, j, SUM(2 * bit - 1) AS score
        FROM bits GROUP BY doc_id, j),
    sh AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN score > 0 THEN (1::BIGINT << j) ELSE 0 END)
                    AS BIGINT) AS simhash
        FROM acc GROUP BY doc_id)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {_HAMMING_MAX}
    """


@register(
    "q_dedup_simhash",
    oracle=_simhash_oracle(),
    tags=("dedup", "near-dup", "simhash"),
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 60-bit fingerprints (md5-nibble token
    hashes, sign-summed per bit), pairs within Hamming distance 3.

    The oracle brute-forces all pairs; the Spark side joins on
    4 15-bit bands — by pigeonhole any pair with
    <= 3 differing bits agrees on at least one band, so
    the banded join is exactly complete, at O(collisions) instead of
    O(n^2). That asymmetry (same answer, different join) is the
    point: the banding IS the 100 TB plan.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = (docs.select("doc_id", F.explode(tokens()).alias("tok"))
           .select("doc_id", F.md5("tok").alias("h")))
    # One agg column per bit instead of a x60 row explode. The 15
    # leading md5 nibbles parse once per token into a 60-bit integer
    # (conv is big-endian: string digit p carries bits 4*(15-p)..+3,
    # so oracle bit j = digit 1+j//4, intra-nibble j%4 = integer bit
    # 4*(14-j//4)+j%4). Fingerprint bit j is set iff score
    # 2*sum(bit_j) - n_tokens > 0; all 60 sums run in one
    # map-side-partial hash aggregation over the token rows.
    v = tok.select(
        "doc_id", F.conv(F.substring("h", 1, 15), 16, 10).cast("bigint").alias("v"))
    bit_sums = [
        F.expr(f"SUM((v >> {4 * (14 - j // 4) + j % 4}) & 1)").alias(f"s{j}")
        for j in range(_SIMHASH_BITS)]
    acc = v.groupBy("doc_id").agg(*bit_sums, F.count(F.lit(1)).alias("n"))
    simhash = " + ".join(
        f"IF(2*s{j} - n > 0, CAST({1 << j} AS BIGINT), CAST(0 AS BIGINT))"
        for j in range(_SIMHASH_BITS))
    sh = acc.select("doc_id", F.expr(simhash).cast("bigint").alias("simhash"))
    sh = sh.cache()  # reused by the band explode and both pair sides

    # own explode (not _band_rows): the fingerprint rides through the
    # band join, so pairs are scored before the distinct, no join-back
    band_width = _SIMHASH_BITS // _N_SIMHASH_BANDS
    bands = sh.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(j).alias("band_idx"),
                F.shiftright(F.col("simhash"), j * band_width)
                 .bitwiseAND((1 << band_width) - 1).alias("band_hash"))
            for j in range(_N_SIMHASH_BANDS)])).alias("bv"),
    ).select("doc_id", "simhash", "bv.band_idx", "bv.band_hash")

    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        _band_join(bands, bands, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
                hamming.cast("bigint").alias("hamming"))
        .distinct()
        .where(F.col("hamming") <= _HAMMING_MAX)
    )


@register(
    "q_dedup_embedding_cosine",
    oracle="""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4
    """,
    tags=("dedup", "near-dup", "embedding"),
)
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str,
                             n_tiles: int | None = None) -> DataFrame:
    """Embedding-space near-dup pairs: cosine >= 0.4 over the
    ``embeddings`` table.

    Implementation is the tiled all-pairs pattern: vectors are
    assigned to tiles, each unordered tile pair becomes one task,
    and inside the task a vectorized numpy matmul scores the whole
    tile-x-tile block at once (Arrow batch in, Arrow batch out).
    Versus the naive self-join with per-pair ``zip_with`` dots, this
    is ~15x faster at sf0.1 and is the plan that scales: each tile
    pair is independent work of bounded size, data is replicated
    O(tiles) not O(n), and only above-threshold pairs leave the
    task. (The earlier HOF formulation is kept in git history.)

    The tile count derives from the corpus row count so per-task
    memory stays bounded as the corpus grows (see _n_tiles);
    ``n_tiles`` overrides it.
    Exact all-pairs is inherently O(n^2) work no matter the tiling —
    this operator's role at 100 TB is the verifier for ANN
    candidates (q_knn_lsh_buckets / q_knn_ivf are the scale path).
    """
    emb = (load_table(spark, sf_dir, "embeddings")
           .where(F.col("embedding").isNotNull()
                  & (F.size("embedding") > 0)))  # np.stack hygiene
    if n_tiles is None:
        n_tiles = _n_tiles(emb.count())
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    tagged = emb.select("vec_id", v.alias("v"),
                        (F.col("vec_id") % n_tiles).cast("int").alias("blk"))
    tile_pairs = spark.createDataFrame(
        [(i, j) for i in range(n_tiles) for j in range(n_tiles) if i <= j],
        "ba int, bb int")
    # replicate each row into every tile pair it participates in,
    # tagged with the side it plays there
    left = (tagged.join(F.broadcast(tile_pairs), F.col("blk") == F.col("ba"))
            .select("ba", "bb", F.lit("L").alias("side"), "vec_id", "v"))
    right = (tagged.join(F.broadcast(tile_pairs), F.col("blk") == F.col("bb"))
             .select("ba", "bb", F.lit("R").alias("side"), "vec_id", "v"))

    import numpy as np

    def score_tile(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import pandas as pd
        diagonal = pdf["ba"].iloc[0] == pdf["bb"].iloc[0]
        lmask = pdf["side"] == "L"
        lids = pdf.loc[lmask, "vec_id"].to_numpy()
        rids = pdf.loc[~lmask, "vec_id"].to_numpy()
        if len(lids) == 0 or (not diagonal and len(rids) == 0):
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []})
        if diagonal:  # L and R are the same tile, replicated twice
            rids = lids
            vl = np.stack(pdf.loc[lmask, "v"].to_numpy())
            vr = vl
        else:
            vl = np.stack(pdf.loc[lmask, "v"].to_numpy())
            vr = np.stack(pdf.loc[~lmask, "v"].to_numpy())
        vl = vl / np.linalg.norm(vl, axis=1, keepdims=True)
        vr = vr / np.linalg.norm(vr, axis=1, keepdims=True)
        cos = vl @ vr.T
        ii, jj = np.where(cos >= 0.4)
        a, b, c = lids[ii], rids[jj], cos[ii, jj]
        # diagonal tile: every unordered pair shows up twice plus the
        # self-pairs, so a<b keeps exactly one copy.  Off-diagonal
        # tiles see each unordered pair exactly once (ids can be in
        # either order) — keep all, just normalize the orientation.
        keep = (a < b) if diagonal else np.ones(a.shape, dtype=bool)
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame({"vec_a": lo[keep], "vec_b": hi[keep],
                             "cosine": np.round(c[keep], 6)})

    return (left.unionAll(right)
            .groupBy("ba", "bb")
            .applyInPandas(score_tile, "vec_a long, vec_b long, cosine double"))


_TILE_BLOCK_BYTES = 64 << 20   # target size of one tile-pair score block


def _n_tiles(n_rows: int) -> int:
    """Tile count for the tiled all-pairs cosine scorer.

    The dominant per-task allocation is the (rows_per_tile)^2 float64
    score block, so rows_per_tile = sqrt(_TILE_BLOCK_BYTES / 8)
    (~2.9k rows -> a 64 MB block) bounds task memory; the tile count
    is then ceil(n / rows_per_tile), floored at 8 so small corpora
    still fan out across executors. The n_tiles parameter of
    q_dedup_embedding_cosine overrides it.
    """
    import math

    rows_per_tile = max(1, int((_TILE_BLOCK_BYTES / 8) ** 0.5))
    return max(8, math.ceil(n_rows / rows_per_tile))


# ---------------------------------------------------------------------------
# Cluster collapse: connected components + survivor selection
# ---------------------------------------------------------------------------

@register(
    "q_dedup_keep_first",
    oracle="""
    SELECT doc_id, md5(text) AS content_hash
    FROM documents
    QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
    """,
    tags=("dedup", "exact", "survivor"),
)
def q_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with deterministic survivor selection: keep the
    lowest doc_id per content hash (dropDuplicates picks an
    arbitrary row; production dedup must be reproducible). One
    hash-partitioned window, no second scan."""
    from pyspark.sql import Window
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    return (docs.select("doc_id", F.md5("text").alias("content_hash"))
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .drop("rn"))


# Shuffle width of the CC rounds: the label/edge relations are
# PAIRS-graph-sized (orders of magnitude smaller than the corpus that
# produced them), so corpus-sized widths just buy per-round scheduler
# overhead. At 100 TB size this to the graph, not the corpus.
_CC_SHUFFLE_PARTITIONS = 8
# Round cap of min_label_cc. Min-label propagation needs diameter + 1
# rounds (the last one confirms no label moved); the near-dup
# components of every fixture are cliques and converge in 2.
CC_MAX_ROUNDS = 20


def _cc_graph(near: DataFrame) -> tuple[DataFrame, DataFrame]:
    """CC setup over a (doc_a, doc_b) pair relation: the eagerly
    checkpointed bidirected edge skeleton (src, dst) and the initial
    self-labels (doc_id, cluster_id = doc_id).

    localCheckpoint (eager), NOT cache+count, for the skeleton:
    unpersisting the generator's shingle cache CASCADES to caches
    whose plans depend on it (Spark's correctness-preserving
    cascade), so a cached edge skeleton would silently drop and every
    CC round would re-run the full generator (measured 6.1 s ->
    19.9 s). Checkpointing truncates the lineage first, so callers
    may release their upstream caches as soon as this returns; the
    blocks are pairs-sized."""
    edges = (near.select("doc_a", "doc_b")
             .union(near.select("doc_b", "doc_a"))
             .toDF("src", "dst").localCheckpoint(eager=True))
    labels = (edges.select(F.col("src").alias("doc_id")).distinct()
              .withColumn("cluster_id", F.col("doc_id")))
    return edges, labels


def _cc_round(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """One min-label round: every node takes the minimum label over
    itself and its neighbours — one join + one min-agg, both
    key-colocated. Returns (doc_id, cluster_id, chg); the change flag
    is derivable in the same pass because a label only ever
    decreases, so convergence costs a count over the result instead
    of a second new-vs-old join."""
    prop = (edges.join(labels, edges.src == labels.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("cluster_id").alias("nbr_min")))
    return (labels.join(prop, "doc_id", "left")
            .select("doc_id",
                    F.least("cluster_id",
                            F.coalesce("nbr_min", "cluster_id"))
                    .alias("cluster_id"),
                    (F.coalesce("nbr_min", "cluster_id")
                     < F.col("cluster_id")).alias("chg")))


def min_label_cc(spark: SparkSession, near: DataFrame) -> DataFrame:
    """Connected components over a (doc_a, doc_b) pair relation by
    min-label propagation: labels converge to each component's
    smallest doc_id. The package's one CC loop — every CC query
    reaches it.

    The loop is driver-CONTROLLED but data-distributed: each round is
    _cc_round under a graph-sized shuffle width, eagerly
    ``localCheckpoint``-ed (labels is referenced twice per round; a
    cache would still grow a doubling logical tree that analysis
    re-walks before every cache hit — the q_kcore_peel finding), and
    the driver reads ONE changed-count scalar per round. Hitting
    CC_MAX_ROUNDS raises instead of emitting wrong labels for a
    component whose diameter exceeds the cap. Returns (doc_id,
    cluster_id) for CLUSTERED docs only; the per-round checkpoint
    blocks go via release_caches(force_checkpointed=True)."""
    edges, labels = _cc_graph(near)
    changed = -1
    try:
        with shuffle_partitions(spark, _CC_SHUFFLE_PARTITIONS):
            for _ in range(CC_MAX_ROUNDS):
                new = _cc_round(edges, labels).localCheckpoint(eager=True)
                changed = new.where("chg").count()
                labels = new.drop("chg")
                if changed == 0:
                    break
    finally:
        edges.unpersist()
    if changed != 0:
        raise RuntimeError(
            f"min_label_cc: not converged in {CC_MAX_ROUNDS} rounds "
            f"({changed} labels still changing); raise CC_MAX_ROUNDS "
            "for graphs with long chain components")
    return labels


_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    sz AS (SELECT doc_id, COUNT(*) AS n FROM s GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
    near AS (
        SELECT doc_a, doc_b FROM pairs
        JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
        WHERE n_common / (x.n + y.n - n_common) >= 0.6),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM near
        UNION SELECT doc_b, doc_a FROM near),
    nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
    reach(doc_id, r) AS (
        SELECT doc_id, doc_id FROM nodes
        UNION
        SELECT e.dst, r.r FROM edges e JOIN reach r ON e.src = r.doc_id)
    SELECT doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc_id
    """


@register(
    "q_dedup_clusters",
    oracle=_CLUSTERS_ORACLE,
    tags=("dedup", "near-dup", "clusters", "iterative"),
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapse near-dup pairs (exact Jaccard >= 0.6) into clusters:
    connected components by min_label_cc, labels converging to the
    component's smallest doc_id.

    Each round is one join + one min-agg (both key-colocated
    shuffles), and the driver reads back only a single changed-row
    count. Plain min-label propagation needs diameter + 1 rounds;
    near-dup components are tiny cliques, so 2 on the fixtures. The
    DuckDB oracle states the same fixpoint as a recursive CTE.
    """
    # pairs via the production ppjoin generator (value-identical to
    # the brute-force join, 22.7x vs 27.9x amplification — the round-8
    # suffix filter made it strictly cheaper for every consumer)
    jpairs, jsets, jrows = exact_jaccard_pairs(spark, sf_dir)
    labels = min_label_cc(spark, jpairs)
    jsets.unpersist()
    jrows.unpersist()
    return labels


@register_audit_plan(
    "q_dedup_clusters",
    note="round 1 of the min-label propagation (edge join + min-agg + "
         "label merge) over the checkpointed edge skeleton — the exact "
         "per-round plan the loop re-executes; the pair generator "
         "feeding the skeleton is audited via q_dedup_exact_pairs. One "
         "round IS representative: every round runs this same plan "
         "over relations of non-increasing size.")
def _q_dedup_clusters_round1(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    # same setup and round body as min_label_cc, so the audited plan
    # cannot drift from the shipped one
    jpairs, jsets, jrows = exact_jaccard_pairs(spark, sf_dir)
    edges, labels = _cc_graph(jpairs)
    jsets.unpersist()
    jrows.unpersist()
    return _cc_round(edges, labels)


@register(
    "q_dedup_signal_agreement",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sz AS (SELECT doc_id, COUNT(*) AS n FROM s GROUP BY doc_id),
    p0 AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
    jac AS (
        SELECT doc_a, doc_b,
               ROUND(n_common * 1.0 / (x.n + y.n - n_common), 6) AS jaccard
        FROM p0 JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
        WHERE n_common * 1.0 / (x.n + y.n - n_common) >= 0.6),
    e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
    n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
    cos AS (
        SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
               ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
        FROM n a JOIN n b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4)
    SELECT COALESCE(jac.doc_a, cos.doc_a) AS doc_a,
           COALESCE(jac.doc_b, cos.doc_b) AS doc_b,
           jac.jaccard, cos.cosine,
           CASE WHEN jac.doc_a IS NOT NULL AND cos.doc_a IS NOT NULL THEN 'both'
                WHEN jac.doc_a IS NOT NULL THEN 'text_only'
                ELSE 'embedding_only' END AS signal
    FROM jac FULL OUTER JOIN cos
      ON jac.doc_a = cos.doc_a AND jac.doc_b = cos.doc_b
    """,
    tags=("dedup", "near-dup", "multi-signal"),
)
def q_dedup_signal_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-signal near-dup agreement: full-outer reconciliation of
    the text signal (exact n-gram Jaccard >= 0.6) against the
    embedding signal (cosine >= 0.4) over the same entity ids —
    'both' pairs are high-confidence duplicates, single-signal pairs
    are the review queue. This is how production dedup composes
    cheap lexical and semantic detectors instead of trusting either
    alone; the join cost is pairs-sized (already-thresholded), not
    corpus-sized."""
    jpairs = exact_jaccard_pairs(spark, sf_dir)[0]  # caller releases
    jac = jpairs.select(
        F.col("doc_a").alias("ja"), F.col("doc_b").alias("jb"), "jaccard")
    cos = q_dedup_embedding_cosine(spark, sf_dir).select(
        F.col("vec_a").alias("ca"), F.col("vec_b").alias("cb"), "cosine")
    return (
        jac.join(cos, (F.col("ja") == F.col("ca")) & (F.col("jb") == F.col("cb")),
                 "full_outer")
        .select(
            F.coalesce("ja", "ca").alias("doc_a"),
            F.coalesce("jb", "cb").alias("doc_b"),
            "jaccard", "cosine",
            F.when(F.col("ja").isNotNull() & F.col("ca").isNotNull(), "both")
            .when(F.col("ja").isNotNull(), "text_only")
            .otherwise("embedding_only").alias("signal")))


@register(
    "q_dedup_triangles",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sz AS (SELECT doc_id, COUNT(*) AS n FROM s GROUP BY doc_id),
    p0 AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
    e AS (
        SELECT doc_a AS a, doc_b AS b FROM p0
        JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
        WHERE n_common * 1.0 / (x.n + y.n - n_common) >= 0.6)
    SELECT e1.a AS doc_a, e1.b AS doc_b, e2.b AS doc_c
    FROM e e1 JOIN e e2 ON e1.b = e2.a
              JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    """,
    tags=("dedup", "graph", "triangles"),
)
def q_dedup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles in the near-dup graph (a < b < c ordered, each
    listed once): triangle density separates tight duplicate
    cliques, which are safe to collapse, from chains of pairwise
    borderline matches, which are not. Two self-joins over the
    already-thresholded edge list, with the a < b < c orientation
    bounding the join fan-out (every edge joins only its
    higher-numbered neighbors) — the standard distributed triangle
    enumeration; cost is pairs-sized, never corpus-sized.
    """
    jpairs, jsets, jrows = exact_jaccard_pairs(spark, sf_dir)
    # localCheckpoint: see q_dedup_clusters — a cached skeleton would
    # cascade-drop when the generator's shingle cache is released
    e = jpairs.select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))         .localCheckpoint(eager=True)
    jsets.unpersist()
    jrows.unpersist()
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    return (e1.join(e2, F.col("e1.b") == F.col("e2.a"))
            .join(e3, (F.col("e3.a") == F.col("e1.a"))
                  & (F.col("e3.b") == F.col("e2.b")))
            .select(F.col("e1.a").alias("doc_a"),
                    F.col("e1.b").alias("doc_b"),
                    F.col("e2.b").alias("doc_c")))


@register(
    "q_dedup_golden_record",
    oracle="""
    WITH g AS (
        SELECT md5(text) AS content_md5,
               MIN(doc_id)  AS canonical_doc,
               COUNT(*)     AS n_members,
               MAX(n_chars) AS best_n_chars,
               string_agg(DISTINCT source, ',' ORDER BY source) AS sources,
               string_agg(DISTINCT lang, ',' ORDER BY lang)     AS langs
        FROM documents GROUP BY md5(text))
    SELECT * FROM g
    """,
    tags=("dedup", "survivorship", "mdm"),
)
def q_dedup_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship / golden-record construction: one canonical row
    per distinct content, merging the duplicates' fields — lowest
    doc_id as canonical, longest variant's length, the union of
    sources and languages as sorted lists. One content-hash
    partitioned aggregation; list fields stay deterministic via
    sort_array, never collection order."""
    docs = load_table(spark, sf_dir, "documents")
    return (docs.groupBy(F.md5("text").alias("content_md5"))
            .agg(F.min("doc_id").alias("canonical_doc"),
                 F.count(F.lit(1)).alias("n_members"),
                 F.max("n_chars").alias("best_n_chars"),
                 F.array_join(F.sort_array(F.collect_set("source")), ",")
                 .alias("sources"),
                 F.array_join(F.sort_array(F.collect_set("lang")), ",")
                 .alias("langs")))


def _sem_nassign(k: int) -> int:
    """Multi-assign width schedule for semantic dedup: ~0.7*sqrt(k)
    clusters per vector, floored at the original 3 and capped at k.
    A FIXED width loses recall as k grows with the corpus (the
    probability two near-dups share at least one of their 3 clusters
    falls with k: measured 0.88 at sf0.001/k=16 but 0.69 at
    sf0.1/k=44 — below the 0.75 floor); sqrt growth keeps the
    replication factor tiny relative to k (at the 4096 cap: 45
    assignments) while the within-cluster block size still shrinks
    as ~n/k, preserving the SemDeDup cost argument.

    Cost adjudication (round 9): shuffle amplification rose 3.05 ->
    4.82 at sf0.1 — the 5/3 assignment replication, exactly the
    bytes the recall repair costs. Recall floors are GATES (0.69 was
    a violation); amplification is the priced trade, re-baselined in
    COST_LOCAL.json with this rationale."""
    return min(k, max(3, round(0.7 * k ** 0.5)))


@register(
    "q_dedup_semantic",
    oracle=None,  # k-means clusters are iterative float math, not
                  # SQL-expressible; gated by precision/recall/pruning
                  # tests against the exact pair set instead
                  # (tests/test_semantic_dedup.py)
    tags=("dedup", "semantic", "embedding", "clustering"),
)
def q_dedup_semantic(spark: SparkSession, sf_dir: str,
                     threshold: float = 0.4) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs: cluster the embedding
    space with the trained coarse quantizer, then score pairs ONLY
    within each cluster — the published recipe (Abbas et al. 2023)
    for semantic dedup at web scale, where exact all-pairs cosine
    (q_dedup_embedding_cosine) is unaffordable.

    Build: reuses the IVF machinery (similarity._train_quantizer and
    the _ivf_assign_fn assignment pass; a cluster is a bucket) —
    k ~ sqrt(n) capped at 4096 centroids, O(k*d) driver traffic.
    Each vector is indexed under its ~0.7*sqrt(k) nearest centroids
    (_sem_nassign — the multi-assign that buys recall: a pair is
    found if ANY cluster contains both endpoints; the width GROWS
    with k because a fixed width loses recall as the corpus — and
    hence k — grows, measured 0.69 < floor at sf0.1 with the old
    fixed 3, 0.90 with the schedule). Scoring is one applyInPandas
    per cluster — a vectorized numpy matmul over the cluster block,
    emitting only above-threshold (a < b) pairs; duplicates from
    shared clusters collapse with one distinct.

    Scale posture: within-cluster all-pairs is O(sum c_i^2) = O(n^2/k)
    for balanced clusters — the point of clustering is that k grows
    with the corpus (up to the 4096 cap of _ivf_k; production
    SemDeDup sizes k to hold cluster size roughly constant). Every cluster is an
    independent bounded task; nothing all-pairs ever shuffles.
    Precision is exact (scores are true cosines); recall misses only
    pairs split across all shared clusters — measured 0.86-0.88 on
    the near-uniform fixture (the clustering worst case), asserted
    >= 0.75 in tests/test_semantic_dedup.py.
    """
    import numpy as np
    import pandas as pd

    from my_mapreduce_spark.queries.similarity import (_IVF_SCHEMA,
                                                       _ivf_assign_fn,
                                                       _ivf_k, _ivf_seed,
                                                       _normed,
                                                       _train_quantizer)

    e = _normed(load_table(spark, sf_dir, "embeddings")).persist()
    seed, n = _ivf_seed(e)  # one top-k job: seed pool + exact count
    if n == 0:  # empty corpus: typed empty result, not a crash
        return spark.createDataFrame(
            [], "vec_a long, vec_b long, cosine double")
    k = _ivf_k(n)
    dim = len(seed[0].v)
    c_mat = _train_quantizer(e, seed, k, dim)
    assigned = e.mapInPandas(_ivf_assign_fn(c_mat, _sem_nassign(k)),
                             schema=_IVF_SCHEMA)

    def score_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        vm = np.stack(pdf["v"].to_numpy())
        vm = vm / np.linalg.norm(vm, axis=1, keepdims=True)
        cos = vm @ vm.T
        ii, jj = np.where(np.triu(cos >= threshold, k=1))
        a, b = ids[ii], ids[jj]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame({"vec_a": lo, "vec_b": hi,
                             "cosine": np.round(cos[ii, jj], 6)})

    return (assigned.groupBy("bucket")
            .applyInPandas(score_cluster,
                           schema="vec_a long, vec_b long, cosine double")
            .where(F.col("vec_a") != F.col("vec_b"))
            .distinct())


def _incremental_oracle() -> str:
    mins = ",\n               ".join(
        f"MIN(md5('{i}|' || shingle)) AS m{i}" for i in range(_N_MINHASH))
    bands = ",\n               ".join(
        f"md5(m{a} || m{b} || m{c}) AS b{j}" for j, (a, b, c) in enumerate(_BANDS))
    band_union = "\n        UNION ALL\n".join(
        f"        SELECT doc_id, {j} AS band_idx, b{j} AS band_hash FROM sig"
        for j in range(len(_BANDS)))
    matches = " + ".join(
        f"CASE WHEN x.m{i} = y.m{i} THEN 1 ELSE 0 END" for i in range(_N_MINHASH))
    return f"""
    WITH {_SHINGLES_CTE},
    sig0 AS (
        SELECT doc_id,
               {mins}
        FROM s GROUP BY doc_id),
    sig AS (
        SELECT *,
               {bands}
        FROM sig0),
    bands AS (
{band_union}),
    cand AS (
        SELECT DISTINCT a.doc_id AS new_doc, b.doc_id AS index_doc
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0)
    SELECT new_doc, index_doc,
           CAST({matches} AS BIGINT) AS n_matches,
           ROUND(({matches}) / {_N_MINHASH}.0, 6) AS est_jaccard
    FROM cand
    JOIN sig x ON new_doc = x.doc_id
    JOIN sig y ON index_doc = y.doc_id
    WHERE {matches} >= {_MIN_MATCHES}
    """


@register(
    "q_dedup_incremental",
    oracle=_incremental_oracle(),
    tags=("dedup", "near-dup", "minhash", "incremental"),
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup ingest: an ARRIVING batch (docs with
    doc_id % 10 == 0 stand in for today's crawl) is checked against
    the already-indexed corpus (the rest) — the production shape of
    dedup, where the corpus is deduplicated once and every new batch
    only joins against the index, never against itself all-pairs.

    Same md5 MinHash/banding as q_dedup_minhash_lsh (_minhash_sig,
    _band_hashes, _band_rows, _band_join, _verified), but the band
    equi-join is arrivals x index only: candidate volume scales with
    the BATCH, not the corpus. At 100 TB the index side's (band_hash
    -> doc) relation is persisted bucketed on band_hash (the
    write_bucketed path), so an arriving batch shuffles only its own
    bands into the existing layout; the index is never re-shuffled
    and never re-signed. Verification joins both signature sets and
    keeps pairs with >=5/9 matching components, renamed (new_doc,
    index_doc), exactly reproducible by the DuckDB oracle.
    """
    # shingle strings: the oracle's md5('<seed>|' || shingle) components
    s = _shingle_rows(spark, sf_dir)
    sig = _band_hashes(_minhash_sig(s, _N_MINHASH),
                       len(_BANDS), len(_BANDS[0])).cache()
    bands = _band_rows(sig, [F.col(f"b{j}") for j in range(len(_BANDS))])
    cand = (_band_join(bands, bands, (F.col("a.doc_id") % 10 == 0)
                       & (F.col("b.doc_id") % 10 != 0))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())
    return (_verified(cand, sig, _N_MINHASH, _MIN_MATCHES)
            .toDF("new_doc", "index_doc", "n_matches", "est_jaccard"))


_SWEEP_THRESHOLDS = (0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)


@register(
    "q_dedup_threshold_sweep",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sz AS (SELECT doc_id, COUNT(*) AS n FROM s GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
    scored AS (
        SELECT n_common * 1.0 / (x.n + y.n - n_common) AS jaccard
        FROM pairs JOIN sz x ON doc_a = x.doc_id
                   JOIN sz y ON doc_b = y.doc_id),
    th AS (SELECT UNNEST({list(_SWEEP_THRESHOLDS)}) AS threshold)
    SELECT threshold,
           CAST(COUNT(CASE WHEN jaccard >= threshold THEN 1 END) AS BIGINT)
               AS n_pairs
    FROM th LEFT JOIN scored ON TRUE
    GROUP BY threshold
    """,
    tags=("dedup", "near-dup", "jaccard", "tuning"),
)
def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair counts at every candidate Jaccard threshold in
    ONE pass over the exact pair relation — the calibration curve
    that picks the dedup operating point (where does the pair count
    elbow?) before committing the full corpus to an LSH config.

    The pair relation is computed once (same shape as
    q_dedup_ngram_jaccard — shingle-keyed self-join, verifier-role
    at scale); the sweep is a broadcast 7-row threshold table
    crossed against pair SCORES (not pairs re-joined per threshold)
    and one tiny agg. Thresholds are exact binary fractions-free
    decimals compared identically on both engines after the shared
    ``n_common/(na+nb-n_common)`` double arithmetic.
    """
    # persisted: three consumers, no reusable exchange across their
    # differing aggregate shapes (caller releases, caching.py);
    # hashed: equality-only consumption, no string in the output
    s = _shingle_rows(spark, sf_dir, hashed=True).persist()
    sz = s.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = s.alias("a"), s.alias("b")
    pairs = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    scored = (
        pairs.join(sz.alias("x"), F.col("doc_a") == F.col("x.doc_id"))
        .join(sz.alias("y"), F.col("doc_b") == F.col("y.doc_id"))
        .select((F.col("n_common")
                 / (F.col("x.n") + F.col("y.n") - F.col("n_common")))
                .alias("jaccard"))
    )
    th = spark.createDataFrame([(t,) for t in _SWEEP_THRESHOLDS],
                               "threshold double")
    return (
        F.broadcast(th).join(scored, how="left")
        .groupBy("threshold")
        .agg(F.count(F.when(F.col("jaccard") >= F.col("threshold"), 1))
             .alias("n_pairs"))
    )


@register(
    "q_dedup_normalized_exact",
    oracle="""
    WITH n AS (
        SELECT doc_id,
               md5(trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                   ' +', ' ', 'g'))) AS nh,
               md5(text) AS rh
        FROM documents)
    SELECT COUNT(*) AS n_docs,
           COUNT(DISTINCT rh) AS distinct_raw,
           COUNT(DISTINCT nh) AS distinct_normalized,
           CAST(COUNT(DISTINCT rh) - COUNT(DISTINCT nh) AS BIGINT)
               AS normalization_collapsed
    FROM n
    """,
    tags=("dedup", "exact", "normalization"),
)
def q_dedup_normalized_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup tier BETWEEN exact and fuzzy: byte-exact dedup
    after canonical normalization (lowercase, strip non-alnum,
    collapse whitespace, trim) — catches the trivially-reformatted
    duplicates (case, punctuation, spacing) that raw-hash dedup
    misses and MinHash overkills. Reported as the collapse census:
    how many raw-distinct docs fold together once normalized.

    One scan, normalization entirely JVM expression-side, two
    count-distincts on md5 hashes (partial-aggregated). The same
    normalize-then-hash column is what a production pipeline keys
    its dedup groupBy on at 100 TB.
    """
    docs = load_table(spark, sf_dir, "documents")
    norm = F.md5(F.trim(F.regexp_replace(
        F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", ""),
        " +", " ")))
    n = docs.select(norm.alias("nh"), F.md5("text").alias("rh"))
    return n.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("rh").alias("distinct_raw"),
        F.count_distinct("nh").alias("distinct_normalized"),
        (F.count_distinct("rh") - F.count_distinct("nh"))
        .alias("normalization_collapsed"))


# Prefix-filtering (ppjoin) exact set-similarity joins. Every threshold
# is a rational num/den, so the prefix length n - ceil(t*n) + 1 and
# every bound below are EXACT integer arithmetic:
# ceil(num*n/den) = (num*n + den - 1) DIV den. The Jaccard family runs
# at 3/5 (J = o/(na+nb-o) >= 3/5 cross-multiplies to 8*o >= 3*(na+nb)).
_PF_NUM, _PF_DEN = 3, 5
_PF_THRESHOLD = _PF_NUM / _PF_DEN


def _tok60(t):
    """60-bit md5-prefix hash of a token — the compact verification-
    array element (array<bigint> ships ~3x fewer shuffle bytes than
    token strings; equality is all intersection counting needs)."""
    return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("bigint")


# ppjoin SUFFIX filter, realized as a 256-bit set bitmap (4 longs)
# per document: bucket = pmod(tok, 256), one bit per occupied
# bucket. For a candidate pair the Hamming-style bound
#   overlap <= n_a - popcount(bits_a & ~bits_b)
# is LOSSLESS: a bucket whose bit is set in A but not B holds >= 1
# A-token and ZERO B-tokens, so each such bit certifies one A-token
# outside the intersection (hash collisions only CLEAR A-only bits,
# i.e. only loosen the bound — never unsound). Symmetrically for B.
# Fixture docs carry <= 98 shingles, so 256 buckets stay sparse
# enough that a random (non-dup) candidate's bound lands far below
# the threshold and is pruned for 32 bytes/doc — BEFORE the
# pair-expanded array-verification join, whose shipped token arrays
# are the dominant shuffle term.
_SFX_LONGS = 4


def _suffix_bitmap_cols(toks_col: str) -> list:
    """The 4 bitmap longs b0..b3 as expressions over an existing
    array<bigint> column — computed in the same projection as the
    verification arrays, no extra shuffle."""
    return [
        F.expr(
            f"aggregate(filter({toks_col}, x -> pmod(x, 256) DIV 64 = {i}),"
            f" 0L, (acc, x) -> acc | shiftleft(1L,"
            f" CAST(pmod(x, 64) AS INT)))").alias(f"b{i}")
        for i in range(_SFX_LONGS)
    ]


def _suffix_bound(side_a: str, side_b: str):
    """Upper bound on |A \\ B| from the bitmaps: popcount of the
    A-only bits, summed over the 4 longs."""
    return sum(
        F.bit_count(F.col(f"{side_a}.b{i}").bitwiseAND(
            F.bitwise_not(F.col(f"{side_b}.b{i}"))))
        for i in range(_SFX_LONGS))


def _with_bitmaps(cand: DataFrame, sets: DataFrame) -> DataFrame:
    """Candidate pairs (doc_a, doc_b) with doc_a's bitmap as x.b0..b3
    and doc_b's as y.b0..b3 — 32 bytes per doc, joined before any
    token array ships."""
    bits = sets.select("doc_id", *[f"b{i}" for i in range(_SFX_LONGS)])
    return (cand
            .join(bits.alias("x"), F.col("doc_a") == F.col("x.doc_id"))
            .join(bits.alias("y"), F.col("doc_b") == F.col("y.doc_id")))


def _df_sets(rows: DataFrame, num: int, den: int) -> DataFrame:
    """The per-document relation every ppjoin query runs on, built in
    ONE doc-keyed aggregate over distinct (doc_id, shingle) ``rows``:
    the shingles sorted by the global (df, shingle) order (rarest
    first; array_sort over collected (df, shingle) structs, no
    window-sort machinery), with columns

    - ``n``: the set size;
    - ``toks``: the set as 8-byte hashes for verification — a BIGINT
      shingle column (``_shingle_rows(hashed=True)``) is used as is,
      a string one goes through ``_tok60``;
    - ``prefix``: the first ``n - ceil(num*n/den) + 1`` shingles in
      that order, in the shingle column's own type;
    - ``b0..b3``: the suffix-filter bitmap of ``toks``.

    The prefix and the bounds are lossless under ANY consistent total
    order (the pigeonhole and max-position arguments never read the
    shingle's content), so ordering by (df, hash64) instead of
    (df, string) can change which pairs become candidates, never the
    verified pair set.

    Both relations are persisted: ``rows`` feeds the df aggregate AND
    the join-back (one shingle pipeline instead of two), and the
    returned relation feeds the prefix explode and both verification
    sides. The caller releases both (caching.py contract); ``persist``
    marks ``rows`` in place, so the caller's own handle on it
    releases it."""
    rows = rows.persist()
    dfc = rows.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    toks = F.col("st.shingle")
    if isinstance(rows.schema["shingle"].dataType, StringType):
        toks = F.transform(toks, _tok60)
    return (rows.join(dfc, "shingle")
            .groupBy("doc_id")
            .agg(F.array_sort(
                F.collect_list(F.struct("df", "shingle"))).alias("st"))
            .withColumn("n", F.size("st"))
            .withColumn("toks", toks)
            .withColumn("prefix", F.slice(
                F.col("st.shingle"), 1,
                F.col("n") - F.expr(f"({num} * n + {den - 1}) DIV {den}")
                + 1))
            .select("doc_id", "n", "toks", "prefix",
                    *_suffix_bitmap_cols("toks"))
            .persist())


def _prefix_groups(sets: DataFrame) -> DataFrame:
    """ppjoin length + PREFIX filter at the Jaccard threshold: the
    posexploded prefixes self-join on a shared shingle, with the
    two-sided length filter ``den*na >= num*nb`` (a pair whose sizes
    differ by more than t cannot reach J >= t). A pair with J >= t
    MUST share a shingle inside both prefixes (pigeonhole), so both
    filters are lossless. One row per candidate pair (doc_a < doc_b)
    with its sizes, ``m`` matched prefix shingles and the 0-based
    last matched positions ``pa``/``pb``."""
    pref = sets.select("doc_id", "n",
                       F.posexplode("prefix").alias("pos", "shingle"))
    return (pref.alias("a")
            .join(pref.alias("b"),
                  (F.col("a.shingle") == F.col("b.shingle"))
                  & (F.col("a.doc_id") < F.col("b.doc_id"))
                  & (_PF_DEN * F.col("a.n") >= _PF_NUM * F.col("b.n"))
                  & (_PF_DEN * F.col("b.n") >= _PF_NUM * F.col("a.n")))
            .groupBy(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"),
                     F.col("a.n").alias("na"), F.col("b.n").alias("nb"))
            .agg(F.count(F.lit(1)).alias("m"),
                 F.max("a.pos").alias("pa"), F.max("b.pos").alias("pb")))


def _jaccard_reachable(overlap_bound):
    """An overlap upper bound can still reach J >= num/den:
    (num+den)*bound >= num*(na+nb)."""
    return ((_PF_NUM + _PF_DEN) * overlap_bound
            >= _PF_NUM * (F.col("na") + F.col("nb")))


def _positional(groups: DataFrame) -> DataFrame:
    """ppjoin POSITIONAL filter (Xiao et al., lossless): both prefixes
    share ONE global order, so the matched prefix shingles of a pair
    interleave consistently and max(pos) on each side is attained at
    the SAME last matched shingle; every common shingle beyond it sits
    strictly after that position in BOTH docs. Hence overlap <=
    m + min(na-pa-1, nb-pb-1), and a pair that cannot reach the
    threshold is pruned BEFORE any token array moves."""
    bound = F.col("m") + F.least(F.col("na") - F.col("pa") - 1,
                                 F.col("nb") - F.col("pb") - 1)
    return (groups.where(_jaccard_reachable(bound))
            .select("doc_a", "doc_b", "na", "nb"))


def _suffix(cand: DataFrame, sets: DataFrame) -> DataFrame:
    """ppjoin SUFFIX filter: prune every candidate whose bitmap
    Hamming bound (both ways) cannot reach the Jaccard threshold."""
    return (_with_bitmaps(cand, sets)
            .where(_jaccard_reachable(F.col("na") - _suffix_bound("x", "y"))
                   & _jaccard_reachable(
                       F.col("nb") - _suffix_bound("y", "x")))
            .select("doc_a", "doc_b"))


def _probe_pairs(sets: DataFrame, num: int, den: int) -> DataFrame:
    """ASYMMETRIC prefix filter for overlap relative to the smaller
    set, |A∩B| >= (num/den)*n_a with n_a <= n_b (``sets`` built by
    ``_df_sets(hashed rows, num, den)``, so prefix and toks share one
    hash domain): each doc's prefix probes ALL shingle occurrences of
    larger-or-equal docs. Lossless: a pair sharing NO probe-prefix
    shingle has o <= n_a - prefix_len = ceil(t*n_a) - 1 < t*n_a.
    Candidate volume tracks rare-shingle collisions, never the
    hot-shingle-quadratic self-join. The one-sided suffix bound
    den*(n_a - popcount(bits_a & ~bits_b)) >= num*n_a then prunes
    before any array ships. Returns (doc_a, doc_b) with doc_a the
    probe (smaller) side; equal-size pairs appear in both directions."""
    probe = sets.select(F.col("doc_id").alias("doc_a"),
                        F.col("n").alias("na"),
                        F.explode("prefix").alias("shingle"))
    index = sets.select(F.col("doc_id").alias("doc_b"),
                        F.col("n").alias("nb"),
                        F.explode("toks").alias("shingle"))
    cand = (probe.join(index, "shingle")
            .where((F.col("doc_b") != F.col("doc_a"))
                   & (F.col("nb") >= F.col("na")))
            .select("doc_a", "na", "doc_b").distinct())
    return (_with_bitmaps(cand, sets)
            .where(den * (F.col("na") - _suffix_bound("x", "y"))
                   >= num * F.col("na"))
            .select("doc_a", "doc_b"))


def _smaller_id_first(ver: DataFrame, *extra) -> DataFrame:
    """Verified probe pairs as (doc_a, doc_b, n_a, n_b, n_common,
    *extra) with the smaller doc id first, deduplicated: equal-size
    pairs probe, and verify, in both directions."""
    first = F.col("doc_a") < F.col("doc_b")
    return ver.select(
        F.least("doc_a", "doc_b").alias("doc_a"),
        F.greatest("doc_a", "doc_b").alias("doc_b"),
        F.when(first, F.col("na")).otherwise(F.col("nb")).alias("n_a"),
        F.when(first, F.col("nb")).otherwise(F.col("na")).alias("n_b"),
        "n_common", *extra).distinct()


def _intersect(cand: DataFrame, sets: DataFrame) -> DataFrame:
    """Exact verification of candidate pairs (doc_a, doc_b): join each
    side's size and token array (na/ta, nb/tb) and add ``n_common``,
    the JVM ``array_intersect`` size. Both array sides carry a MERGE
    hint: the token-array relation must never broadcast — sorted
    shingle arrays compress so well that AQE's size estimate sits
    under the broadcast threshold while the deserialized rows are
    corpus-sized (the auto-converted broadcast build OOM'd the driver
    at the 30x scale tier; a shuffle-hash build side of array rows,
    and an eager semi-prune broadcast of the candidate doc ids, each
    OOM'd a default-1g driver). Sort-merge is broadcast-proof AND
    spillable: a linear corpus-array shuffle, graceful under any
    memory budget."""
    def side(x):
        return sets.select(F.col("doc_id").alias(f"doc_{x}"),
                           F.col("n").alias(f"n{x}"),
                           F.col("toks").alias(f"t{x}")).hint("merge")

    return (cand.join(side("a"), "doc_a").join(side("b"), "doc_b")
            .withColumn("n_common", F.size(F.array_intersect("ta", "tb"))))


def _jaccard():
    """Jaccard of a verified pair (na, nb, n_common from _intersect)."""
    return (F.col("n_common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_common")))


def exact_jaccard_pairs(spark: SparkSession, sf_dir: str,
                        docs: DataFrame | None = None
                        ) -> tuple[DataFrame, DataFrame]:
    """The production exact-Jaccard pair generator, reusable: every
    word-3-gram shingle pair with Jaccard >= 3/5, computed through
    the LOSSLESS ppjoin funnel (``_df_sets`` -> ``_prefix_groups`` ->
    ``_positional`` -> ``_suffix`` -> ``_intersect``; see
    q_dedup_prefix_filter for the full argument) — value-identical to
    the brute-force shingle self-join at a fraction of its shuffle
    (22.7x vs 27.9x source-byte amplification at sf0.1, candidates
    66k -> 256).

    Returns ``(pairs, sets, rows)``: ``pairs`` has columns (doc_a,
    doc_b, n_common, jaccard); ``sets`` is the persisted per-doc
    shingle relation the pair plan references and ``rows`` the
    persisted distinct shingle rows ``sets`` is built from — the
    CALLER owns the release of both (unpersist them after
    materializing anything derived from ``pairs``, or leave them to
    the harness-level release_caches contract).
    Downstream graph/cluster/split operators consume this instead of
    q_dedup_ngram_jaccard's declared brute-force join (kept as the
    fixture-scale verifier and the shared DuckDB oracle). ``docs``
    restricts the generator to a caller-supplied relation (the dedup
    funnel and the curation endgame pass their exact-dedup
    survivors)."""
    # hashed end to end: every step only tests shingle EQUALITY under
    # one consistent total order (see _df_sets), so the persisted
    # relations, both big exchanges and the pair-expanded arrays carry
    # 8-byte longs instead of ~20-byte strings (collision odds ~1e-15)
    rows = _shingle_rows(spark, sf_dir, docs, hashed=True)
    sets = _df_sets(rows, _PF_NUM, _PF_DEN)
    j = _intersect(_suffix(_positional(_prefix_groups(sets)), sets), sets)
    pairs = (j.withColumn("jac", _jaccard())
             .where(F.col("jac") >= _PF_THRESHOLD)
             .select("doc_a", "doc_b", "n_common",
                     F.round("jac", 6).alias("jaccard")))
    return pairs, sets, rows


@register(
    "q_dedup_prefix_filter",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
           FROM s GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM s a JOIN s b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
    j AS (
        SELECT doc_a, doc_b, n_common,
               CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jac
        FROM pairs
        JOIN sz sa ON sa.doc_id = doc_a
        JOIN sz sb ON sb.doc_id = doc_b)
    SELECT doc_a, doc_b, n_common, ROUND(jac, 6) AS jaccard
    FROM j WHERE jac >= {_PF_THRESHOLD}
    """,
    tags=("dedup", "near-dup", "jaccard", "prefix-filter"),
)
def q_dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-set Jaccard near-dup join (3-gram shingles, threshold
    0.6) computed with PREFIX FILTERING — the ppjoin/AllPairs
    candidate-generation trick: order every document's shingles by
    ascending global document frequency (rarest first) and join
    documents ONLY on their first ``n - ceil(t*n) + 1`` shingles,
    plus the length filter (``5*na >= 3*nb`` both ways — a pair
    whose sizes differ by more than t cannot reach J >= t). Any
    pair with J >= t MUST share a shingle inside both prefixes
    under a common ordering (pigeonhole: missing every prefix
    shingle caps the overlap below t), so both filters are
    lossless — and the oracle PROVES it per run, because the oracle
    is the brute-force all-shared-shingle join
    (q_dedup_ngram_jaccard's SQL verbatim) and the result must be
    value-identical.

    Why it matters at 100 TB: the brute-force join fans out on
    boilerplate shingles (every pair of documents sharing one
    becomes a group); prefix filtering never joins on frequent
    shingles at all — head shingles sit at the END of the
    df-ordering and fall outside every prefix — so candidate volume
    tracks rare-shingle collisions, the same collision-bounded
    shape as the MinHash band join, while staying EXACT (no recall
    knob to tune). Intersection counting then runs only on
    candidate docs' shingle sets. Prefix length uses integer
    arithmetic ((3n + 4) DIV 5) — no float ceil seam.

    Engine shape: token-df agg (combiner-reduced — only DISTINCT
    shingles shuffle, with partial counts) -> df join-back -> ONE
    doc-keyed agg that builds each document's df-ordered token
    array AND its prefix slice in the same pass (array_sort over
    collected (df, token) structs — no window-sort machinery),
    CACHED so the expensive shingle pipeline materializes once ->
    prefix-posexplode equi-join with the integer length filter ->
    ppjoin POSITIONAL filter (overlap <= m + min(na-pa-1, nb-pb-1),
    lossless under the shared global ordering — cut sf0.1
    candidates 193k -> 66k before any array moved) -> ppjoin SUFFIX
    filter (stage 2: a 256-bit per-doc set bitmap gives the lossless
    Hamming bound overlap <= n_a - popcount(bits_a & ~bits_b); 32
    bytes/doc joined onto the positional survivors cut sf0.1
    candidates 66k -> 256, i.e. to exactly the true pairs on this
    fixture — see _suffix_bitmap_cols for the soundness argument) ->
    exact intersection per surviving pair via JVM ``array_intersect`` on
    64-bit xxhash64 token arrays (~3x fewer bytes than strings;
    within-pair collision odds ~1e-15). Both verification sides are
    the whole per-doc array relation, MERGE-hinted with no semi-prune
    (``_intersect``) — the round-7 30x scale tier proved the array
    relation must never broadcast (compressed-size stats under-report
    deserialized arrays; AQE's auto-conversion OOM'd the driver) — so
    verification costs one linear corpus-array shuffle per side, the
    honest cost of exact verification, visible as shuffle instead of
    hidden in a corpus-sized broadcast that dies at scale.
    Reference parity: extends q_dedup_ngram_jaccard (the declared
    brute-force verifier) with the production candidate generator.
    """
    return exact_jaccard_pairs(spark, sf_dir)[0]


_WJ_SCALE = 1000   # idf milli-units: weights are exact bigints
_WJ_THRESH = 0.5   # report pairs with weighted Jaccard >= 0.5


# DuckDB twin of the weighted-Jaccard VERIFIER below. The verifier is
# deliberately NOT in the benched registry (round-8 verdict #3): it
# was the registry's last >40x shuffle-amplification row (42.7x), and
# its declared role was always fixture-scale verification of the
# banded production operators (q_dedup_weighted_minhash, q_dedup_icws
# — 12.9x and 17.5x, recall 1.0 vs this exact pair set). The equality
# gate survives the demotion: tests/test_weighted_minhash.py checks
# the verifier against this oracle at sf0.001, and
# tools/recall_report.py still scores both banded operators against
# its exact pair set at every SF.
WEIGHTED_JACCARD_ORACLE = f"""
    WITH {_SHINGLES_CTE},
    nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM s),
    w AS (
        SELECT shingle,
               CAST(ROUND(ln(nd.n * 1.0 / COUNT(DISTINCT doc_id))
                          * {_WJ_SCALE}) AS BIGINT) AS w
        FROM s CROSS JOIN nd GROUP BY shingle, nd.n
        HAVING CAST(ROUND(ln(nd.n * 1.0 / COUNT(DISTINCT doc_id))
                          * {_WJ_SCALE}) AS BIGINT) > 0),
    dw AS (
        SELECT s.doc_id, CAST(SUM(w.w) AS BIGINT) AS wt
        FROM s JOIN w USING (shingle) GROUP BY s.doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(SUM(w.w) AS BIGINT) AS iw
        FROM s a JOIN s b ON a.shingle = b.shingle
                         AND a.doc_id < b.doc_id
             JOIN w ON w.shingle = a.shingle
        GROUP BY 1, 2)
    SELECT doc_a, doc_b, iw AS inter_w,
           ROUND(iw * 1.0 / (x.wt + y.wt - iw), 6) AS weighted_jaccard
    FROM inter
    JOIN dw x ON doc_a = x.doc_id
    JOIN dw y ON doc_b = y.doc_id
    WHERE iw * 2 >= x.wt + y.wt - iw
    """


def q_dedup_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDF-weighted Jaccard near-dup pairs: every shingle carries an
    idf weight (ln(N/df), integer-milli-scaled), so two documents
    sharing RARE shingles score as near-dups while boilerplate
    shingles that appear everywhere barely count — the weighting
    that separates true near-dups from templated pages sharing only
    chrome, which plain Jaccard (q_dedup_ngram_jaccard) cannot.
    weighted_jaccard = sum(w over A∩B) / sum(w over A∪B); the
    >= 0.5 cut is the exact integer inequality 2*inter >= union
    (cross-multiplied — the q_bh_fdr_screen discipline), so the
    pair set is bit-stable.

    Plan: one shingle-vocabulary weight agg (the 1-row doc count
    broadcasts — scalar-subquery shape), one per-doc weight sum,
    and the same oriented shingle-keyed pair join as
    q_dedup_ngram_jaccard with map-side-combined intersection sums
    — pairs-sized, never corpus². Zero-weight shingles (idf rounds
    to 0 — the ubiquitous-boilerplate extreme) are dropped from the
    JOIN SIDES before any pair work: they contribute 0 to both the
    intersection and every document total, so the prune is exactly
    lossless while removing precisely the hottest join keys (the
    df≈N shingles whose fan-out is the quadratic worry at 100 TB;
    hot-but-not-ubiquitous keys are what the banded-LSH candidate
    path q_dedup_minhash_lsh_prod exists for — a round-6 experiment
    re-deriving candidates through the WEIGHTED prefix filter
    measured 9x MORE shuffle bytes than this plan at sf0.1, because
    the candidate finishing must ship per-pair token arrays while
    this join's groupBy combines map-side; COST_LOCAL.json is the
    arbiter).

    SCALE PATH: this exact join is the fixture-scale VERIFIER — and
    per round-8 verdict #3 it is exactly that, NOT a benched registry
    entry: the production operators are q_dedup_weighted_minhash /
    q_dedup_icws (banded weighted MinHash / ICWS — 12.9x / 17.5x
    shuffle amplification vs this plan's 42.7x, recall 1.0 at both
    fixture scales against THIS pair set, RECALL_LOCAL.json). Its
    oracle equality is pinned at sf0.001 by
    tests/test_weighted_minhash.py::test_weighted_jaccard_verifier_matches_oracle.
    """
    # s persisted: df aggregate, doc-count scalar, and the weight
    # join-back all consume it with differing shapes (no reusable
    # exchange); sw persisted: per-doc weight sum + both pair-join
    # sides (caller releases both, caching.py contract); hashed:
    # weights key on equality only, no string reaches the output
    s = _shingle_rows(spark, sf_dir, hashed=True).persist()
    # s is already (doc, shingle)-distinct, so per-shingle COUNT is df
    df_rel = s.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    nd = s.agg(F.count_distinct("doc_id").alias("n"))
    w = (df_rel.crossJoin(F.broadcast(nd))
         .select("shingle",
                 F.round(F.log(F.col("n") * 1.0 / F.col("df"))
                         * _WJ_SCALE).cast("bigint").alias("w"))
         # idf-0 shingles: 0 weight in every sum => lossless drop of
         # the hottest (df ~ N) join keys before the pair join
         .where(F.col("w") > 0))
    # attach weights BEFORE the pair join (shingle-co-partitioned with
    # it); a first cut joined weights onto the pair-EXPANDED rows and
    # cached the shingle relation — 32 s at sf0.1 vs ~4 s this way
    sw = s.join(w, "shingle").persist()
    dw = sw.groupBy("doc_id").agg(F.sum("w").alias("wt"))
    a, b = sw.alias("a"), sw.alias("b")
    inter = (a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.sum("a.w").alias("iw")))
    union_w = F.col("x.wt") + F.col("y.wt") - F.col("iw")
    return (inter
            .join(dw.alias("x"), F.col("doc_a") == F.col("x.doc_id"))
            .join(dw.alias("y"), F.col("doc_b") == F.col("y.doc_id"))
            .where(F.col("iw") * 2 >= union_w)
            .select("doc_a", "doc_b", F.col("iw").alias("inter_w"),
                    F.round(F.col("iw") * 1.0 / union_w, 6)
                    .alias("weighted_jaccard")))


_WMH_BANDS, _WMH_ROWS = 16, 2   # 32 perms: P[cand] at s=0.5 is 0.990
_WMH_MIN_MATCHES = 16           # report est weighted Jaccard >= 0.5

def _wmh_arith_oracle(n_bands: int, n_rows: int, min_matches: int) -> str:
    """SQL twin of the ARITHMETIC-REPLICA weighted MinHash below —
    every step (md5 halves, (h1,h2)-keyed idf, replica range,
    quadruple multiply-adds mod p, banding, match counts) is exact
    int64 arithmetic reproduced verbatim, the _minhash_oracle_cw
    discipline."""
    n = n_bands * n_rows
    params, prime = _cw_params4(n)
    mins = ",\n               ".join(
        f"MIN(({a} * h1 + {b} * h2 + {d} * r + {c}) % {prime}) AS m{i}"
        for i, (a, b, d, c) in enumerate(params))
    bands = ",\n               ".join(
        "md5(" + " || '|' || ".join(
            f"CAST(m{j * n_rows + k} AS VARCHAR)" for k in range(n_rows))
        + f") AS b{j}" for j in range(n_bands))
    band_union = "\n        UNION ALL\n".join(
        f"        SELECT doc_id, {j} AS band_idx, b{j} AS band_hash FROM sig"
        for j in range(n_bands))
    matches = " + ".join(
        f"CASE WHEN x.m{i} = y.m{i} THEN 1 ELSE 0 END" for i in range(n))
    return f"""
    WITH {_SHINGLES_CTE},
    wnd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM s),
    wv AS (
        SELECT shingle,
               CAST(ROUND(ln(wnd.n * 1.0 / COUNT(*))) AS BIGINT) AS w
        FROM s CROSS JOIN wnd GROUP BY shingle, wnd.n
        HAVING CAST(ROUND(ln(wnd.n * 1.0 / COUNT(*))) AS BIGINT) > 0),
    e AS (
        SELECT s.doc_id,
               CAST(('0x' || substr(md5(s.shingle), 1, 7)) AS BIGINT) AS h1,
               CAST(('0x' || substr(md5(s.shingle), 8, 7)) AS BIGINT) AS h2,
               CAST(u.r AS BIGINT) AS r
        FROM s JOIN wv USING (shingle),
             UNNEST(range(1, wv.w + 1)) AS u(r)),
    sig0 AS (
        SELECT doc_id,
               {mins}
        FROM e GROUP BY doc_id),
    sig AS (
        SELECT *,
               {bands}
        FROM sig0),
    bands AS (
{band_union}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b,
           CAST({matches} AS BIGINT) AS n_matches,
           ROUND(({matches}) / {n}.0, 6) AS est_jaccard
    FROM cand
    JOIN sig x ON doc_a = x.doc_id
    JOIN sig y ON doc_b = y.doc_id
    WHERE {matches} >= {min_matches}
    """


@register(
    "q_dedup_weighted_minhash",
    oracle=_wmh_arith_oracle(_WMH_BANDS, _WMH_ROWS, _WMH_MIN_MATCHES),
    tags=("dedup", "weighted-jaccard", "minhash", "lsh", "idf",
          "near-dup"),
)
def q_dedup_weighted_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted MinHash-LSH — the SCALE PATH for idf-weighted near-dup
    detection (the banded answer to q_dedup_weighted_jaccard's exact
    pair join, which stays as the fixture-scale verifier).

    Weights are quantized to UNIT-scaled integer idf (round(ln(N/df)),
    vs the exact query's milli-scale), and each shingle of weight w
    contributes w replica elements. For integer weights that
    replication is an IDENTITY, not a heuristic: weighted Jaccard
    sum-min/sum-max over weight vectors equals plain Jaccard over the
    expanded element sets. Replicas are ARITHMETIC, not string-typed
    (round-9 verdict #5 — the old shape built w shingle#r concat
    strings per occurrence and md5'd every one): each shingle hashes
    ONCE to its two 28-bit md5 halves (h1, h2) after the doc_id
    repartition, and permutation i of replica r is the exact int64
    chain (a_i*h1 + b_i*h2 + d_i*r + c_i) mod p — the _cw_params
    scheme extended with a replica term (every sum under 2^60, exact
    on both engines; a hashed-keys-on-the-wire variant was measured
    and REJECTED — see the inline exchange note). 16 bands x 2 rows;
    pairs report >= 16/32 matching components (est >= 0.5, the
    q_dedup_weighted_jaccard threshold).

    Scale posture: replication is bounded by max idf ~ ln(N) (<= ~26
    even at 10^11 docs) and the exploded replicas never shuffle — the
    signature aggregate's partial min combiner collapses them to 32
    longs per (partition, doc) before any wire; candidates come from
    the (band_idx, band_hash) equi-join
    — key-colocated, never all-pairs — so the exact join's df^2
    per-shingle fan-out (42.7x shuffle amplification, COST_LOCAL's
    worst row) is replaced by collision-sized band buckets. idf-0
    elements (df ~ N boilerplate) are dropped exactly as in the exact
    query. Recall vs the exact milli-scaled pairs is recorded in
    RECALL_LOCAL.json and floored in tests/test_weighted_minhash.py;
    the DuckDB oracle reproduces the hashing, quantization, replica
    arithmetic, and every permutation bit-for-bit, so the correctness
    gate stays hash-exact.
    """
    # Exchange structure (round-9 verdict #5 — four variants measured
    # at sf0.1 before keeping this one): exact distributed idf
    # weighting irreducibly pays a vocabulary aggregate + a weight
    # join-back on top of the one signature exchange the unweighted
    # q_dedup_minhash_lsh_prod needs. Variants: (a) md5-halves keyed,
    # + doc_id repartition: 11.0 MB; (b) packed 56-bit key +
    # repartition: 9.2 MB / 5.7 s; (c) strings + repartition:
    # 11.9 MB; (d) THIS shape — strings through agg+join (lz4 strips
    # redundant n-gram text), NO re-key, partial-combined signature
    # agg: 7.7 MB / 7.0 s, the measured floor and the committed
    # 12.89x baseline. The md5 halves are derived once per occurrence
    # after the join; replicas are pure integer arithmetic (never the
    # old per-replica shingle#r string build + md5).
    # s persisted: df aggregate, doc-count scalar, and the weight
    # join-back each re-ran the scan+explode+distinct pipeline
    # unpersisted — measured 6.9-7.6 s -> 4.7-5.3 s at sf0.1 from
    # this one cache (caller releases, caching.py contract); shingle
    # strings: the oracle's md5(shingle) halves and shingle-keyed df
    s = _shingle_rows(spark, sf_dir).persist()
    dfc = s.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    nd = s.agg(F.count_distinct("doc_id").alias("n"))
    w = (dfc.crossJoin(F.broadcast(nd))
         .select("shingle",
                 F.round(F.log(F.col("n") * 1.0 / F.col("df")))
                 .cast("bigint").alias("w"))
         .where(F.col("w") > 0))
    base = s.join(w, "shingle")
    md = F.md5("shingle")
    ex = base.select(
        "doc_id",
        F.conv(F.substring(md, 1, 7), 16, 10).cast("bigint").alias("h1"),
        F.conv(F.substring(md, 8, 7), 16, 10).cast("bigint").alias("h2"),
        F.explode(F.sequence(F.lit(1).cast("bigint"), F.col("w")))
        .alias("r"))
    n = _WMH_BANDS * _WMH_ROWS
    params, prime = _cw_params4(n)
    sig = ex.groupBy("doc_id").agg(
        *[F.min((F.lit(a) * F.col("h1") + F.lit(b) * F.col("h2")
                 + F.lit(d) * F.col("r") + F.lit(c)) % prime)
          .alias(f"m{i}")
          for i, (a, b, d, c) in enumerate(params)])
    return _banded_pairs(_band_hashes(sig, _WMH_BANDS, _WMH_ROWS, _cw_band),
                         n, _WMH_BANDS, _WMH_MIN_MATCHES)


_SC_SCALE = 100      # idf centi-units: weights stay exact bigints
_SC_DF_CAP = 0.5     # drop terms appearing in > 50% of docs (stopword prune)
_SC_THRESH_NUM, _SC_THRESH_DEN = 1, 2   # cosine >= 1/2


@register(
    "q_sparse_cosine_pairs",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '[^a-z0-9]+'),
                           x -> x <> '') AS w
        FROM documents),
    tf AS (
        SELECT doc_id, u.tok, CAST(COUNT(*) AS BIGINT) AS tf
        FROM t, UNNEST(w) AS u(tok) GROUP BY 1, 2),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM t),
    idf AS (
        SELECT tok,
               CAST(ROUND(ln(nd.n * 1.0 / COUNT(*)) * {_SC_SCALE}) AS BIGINT)
                   AS idf
        FROM tf CROSS JOIN nd
        GROUP BY tok, nd.n
        HAVING COUNT(*) <= nd.n * {_SC_DF_CAP}),
    v AS (
        SELECT tf.doc_id, tf.tok, tf.tf * idf.idf AS w
        FROM tf JOIN idf USING (tok)),
    nrm AS (SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS n2
            FROM v GROUP BY 1),
    dot AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(SUM(a.w * b.w) AS BIGINT) AS dot
        FROM v a JOIN v b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           ROUND(dot / (sqrt(x.n2) * sqrt(y.n2)), 6) AS cosine
    FROM dot JOIN nrm x ON doc_a = x.doc_id
             JOIN nrm y ON doc_b = y.doc_id
    WHERE dot * dot * {_SC_THRESH_DEN * _SC_THRESH_DEN}
          >= x.n2 * y.n2 * {_SC_THRESH_NUM * _SC_THRESH_NUM}
    """,
    tags=("dedup", "similarity", "tf-idf", "sparse", "near-dup"),
)
def q_sparse_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF cosine near-dup pairs over the TOKEN vector-space model
    — the sparse-vector sibling of q_dedup_weighted_jaccard (set
    overlap) and q_dedup_embedding_cosine (dense vectors): documents
    are tf·idf vectors, similarity is the cosine computed by an
    inverted-index join (sum of w_a·w_b over SHARED terms only — the
    sparse dot product never materializes a vector).

    Scale plan, in order of what it prunes:
    - the df-cap (terms in > 50% of docs are dropped from every
      vector) kills the quadratic pair fan-out boilerplate terms
      would create — the standard stopword prune of sparse
      similarity search, and the same role the prefix filter plays
      in q_dedup_prefix_filter;
    - the pair join is term-keyed (cost = sum over terms of df², after
      the cap), never corpus²;
    - weights are integer centi-idf × tf, so dot and norms are exact
      bigints and the >= 1/2 cosine cut is the cross-multiplied
      integer inequality dot²·4 >= ‖a‖²·‖b‖² — a bit-stable pair set
      (the q_dedup_weighted_jaccard discipline); the reported cosine
      is derived from those exact integers.
    """
    docs = load_table(spark, sf_dir, "documents")
    tf = (docs.select("doc_id", F.explode(tokens()).alias("tok"))
          .groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf")))
    nd = docs.agg(F.count(F.lit(1)).alias("n"))
    idf = (tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
           .crossJoin(F.broadcast(nd))
           .where(F.col("df") <= F.col("n") * _SC_DF_CAP)
           .select("tok",
                   F.round(F.log(F.col("n") * 1.0 / F.col("df"))
                           * _SC_SCALE).cast("bigint").alias("idf")))
    v = (tf.join(idf, "tok")
         .select("doc_id", "tok", (F.col("tf") * F.col("idf")).alias("w")))
    nrm = v.groupBy("doc_id").agg(F.sum(F.col("w") * F.col("w")).alias("n2"))
    a, b = v.alias("a"), v.alias("b")
    dot = (a.join(b, (F.col("a.tok") == F.col("b.tok"))
                  & (F.col("a.doc_id") < F.col("b.doc_id")))
           .groupBy(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
           .agg(F.sum(F.col("a.w") * F.col("b.w")).alias("dot")))
    t2n = _SC_THRESH_NUM * _SC_THRESH_NUM
    t2d = _SC_THRESH_DEN * _SC_THRESH_DEN
    return (dot
            .join(nrm.alias("x"), F.col("doc_a") == F.col("x.doc_id"))
            .join(nrm.alias("y"), F.col("doc_b") == F.col("y.doc_id"))
            .where(F.col("dot") * F.col("dot") * t2d
                   >= F.col("x.n2") * F.col("y.n2") * t2n)
            .select("doc_a", "doc_b",
                    F.round(F.col("dot")
                            / (F.sqrt(F.col("x.n2")) * F.sqrt(F.col("y.n2"))),
                            6).alias("cosine")))


@register(
    "q_dedup_funnel",
    oracle=f"""
    WITH RECURSIVE norm AS (
        SELECT doc_id,
               md5(trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                   ' +', ' ', 'g'))) AS nh
        FROM documents),
    s1 AS (SELECT MIN(doc_id) AS doc_id FROM norm GROUP BY nh),
    t AS (
        SELECT d.doc_id,
               list_filter(regexp_split_to_array(d.text, '[^a-z0-9]+'),
                           x -> x <> '') AS w
        FROM documents d JOIN s1 USING (doc_id)),
    s AS (
        SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
        FROM t, UNNEST(range(1, len(w) - 1)) AS u(i)
        WHERE len(w) >= 3),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM s GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
    near AS (
        SELECT doc_a, doc_b FROM pairs
        JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
        WHERE n_common / (x.n + y.n - n_common) >= {_PF_THRESHOLD}),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM near
        UNION SELECT doc_b, doc_a FROM near),
    nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
    reach(doc_id, r) AS (
        SELECT doc_id, doc_id FROM nodes
        UNION
        SELECT e.dst, r.r FROM edges e JOIN reach r ON e.src = r.doc_id),
    lbl AS (SELECT doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc_id),
    c0 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    c1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s1),
    c2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
                  CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters
           FROM lbl)
    SELECT 'ingest' AS stage, c0.n AS n_in, c0.n AS n_out,
           CAST(0 AS BIGINT) AS n_removed FROM c0
    UNION ALL
    SELECT 'normalize_exact', c0.n, c1.n, c0.n - c1.n FROM c0, c1
    UNION ALL
    SELECT 'near_dup_collapse', c1.n,
           c1.n - (c2.n_nodes - c2.n_clusters),
           c2.n_nodes - c2.n_clusters
    FROM c1, c2
    """,
    tags=("dedup", "pipeline", "funnel", "e2e"),
)
def q_dedup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline END-TO-END, reported as the per-stage
    funnel a production corpus run alerts on: ingest → normalized
    exact dedup (keep smallest doc per canonical hash) → near-dup
    collapse (exact Jaccard >= 0.6 among survivors, connected
    components, keep each cluster's representative). One row per
    stage with (n_in, n_out, n_removed) — the composition proof that
    the individually-oracled stages (q_dedup_normalized_exact,
    q_dedup_ngram_jaccard, q_dedup_clusters) chain correctly.

    Scale shape: stage 2 is one normalize+hash groupBy; stage 3's
    pair join runs ONLY over stage-2 survivors (a leftsemi prune
    before any shingle work) through exact_jaccard_pairs, the ppjoin
    generator q_dedup_prefix_filter runs (prefix + positional +
    suffix filters, provably LOSSLESS at threshold 3/5, 66k -> 256
    candidates at sf0.1), with exact Jaccard per surviving pair via
    JVM ``array_intersect`` on 64-bit xxhash64 arrays — never the raw
    shingle self-join the DuckDB oracle runs (that exact join fans
    out quadratically on any hot shingle). Verification sides are the
    whole survivor array relation, merge-hinted with no semi-prune
    (never broadcast: the 30x tier OOM'd on AQE's auto-broadcast of
    the compressed-tiny/deserialized-huge array relation). The CC
    loop is min_label_cc, with O(1-scalar) driver reads per round.
    Funnel counts reach the driver as O(stages) integers.
    """
    docs = load_table(spark, sf_dir, "documents")
    norm = F.md5(F.trim(F.regexp_replace(
        F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", ""),
        " +", " ")))
    # ONE hash-group pass yields the exact-dedup decisions AND both
    # funnel counts (n0 = sum of group sizes, n1 = group count) — no
    # separate docs.count()/survivors.count() scans
    groups = (docs.select(norm.alias("nh"), "doc_id")
              .groupBy("nh").agg(F.min("doc_id").alias("doc_id"),
                                 F.count(F.lit(1)).alias("sz"))
              .persist())
    # body-only caches: min_label_cc checkpoints the edge skeleton
    # eagerly (lineage truncated, so each round's plan is edge-sized
    # instead of re-analyzing the whole funnel DAG), so they are dead
    # weight once it returns, and released also when it raises
    cached = [groups]
    try:
        row = groups.agg(F.sum("sz").alias("n0"),
                         F.count(F.lit(1)).alias("n1")).first()
        n0, n1 = int(row.n0 or 0), int(row.n1)
        s1 = groups.select("doc_id")
        survivors = docs.join(s1, "doc_id", "leftsemi").persist()
        cached.append(survivors)
        pairs, sets, rows = exact_jaccard_pairs(spark, sf_dir, survivors)
        cached += [rows, sets]
        labels = min_label_cc(spark, pairs.select("doc_a", "doc_b"))
    finally:
        for c in reversed(cached):  # dependents first
            c.unpersist()
    row = labels.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.count_distinct("cluster_id").alias("n_clusters")).first()
    collapsed = int(row.n_nodes) - int(row.n_clusters)
    n2 = n1 - collapsed
    return spark.createDataFrame(
        [("ingest", n0, n0, 0),
         ("normalize_exact", n0, n1, n0 - n1),
         ("near_dup_collapse", n1, n2, collapsed)],
        "stage string, n_in bigint, n_out bigint, n_removed bigint")


_ICWS_N = 32            # 16 bands x 2 rows
_ICWS_BANDS, _ICWS_ROWS = 16, 2
_ICWS_MIN_MATCHES = 16  # report est weighted Jaccard >= 0.5


@register(
    "q_dedup_icws",
    oracle=None,  # float ln/exp chains are not bit-reproducible
                  # across engines; quality is recall-floored instead
                  # (tests/test_weighted_minhash.py, RECALL_LOCAL.json)
    tags=("dedup", "weighted-jaccard", "icws", "minhash", "near-dup",
          "rows-only"),
)
def q_dedup_icws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ioffe's Improved Consistent Weighted Sampling (ICWS) — the
    REAL-VALUED weighted MinHash: where q_dedup_weighted_minhash
    quantizes idf to integers and replicates, ICWS samples directly
    from continuous weights (w = ln(N/df), un-quantized), so
    P[sig_k(A) = sig_k(B)] = weighted Jaccard exactly, for any
    positive real weights.

    Per (doc, shingle) and sample k: five deterministic uniforms are
    derived from TWO xxhash64 digests of the shingle via 2-universal
    multiply-adds mod 2^31-1 (the minhash_lsh_pairs scheme="cw"
    compromise — iid-by-hash randomness at integer-arithmetic cost;
    a first cut carved them from 32 per-sample md5 digests and spent
    30.7 s at sf0.1 on md5 string slicing; an unrolled-32-trees cut
    spent ~7 s of plan-constant codegen/analysis — the round-7
    verdict item this round-8 shape closed: the sampler is now ONE
    expression tree over a posexploded literal parameter array,
    doc_id-repartitioned so nothing exploded ever shuffles; 5.6-6.7 s
    total at sf0.1 vs 12.3 s unrolled, identical signatures),
    giving r, c ~ Gamma(2,1) (as -ln(u·u)) and beta ~ U(0,1); then
    t = floor(ln w / r + beta), y = exp(r (t - beta)), a = c/(y e^r),
    and the k-th signature component is (shingle, t) of the argmin-a
    shingle (``min_by`` over (doc, k) — combiner-reduced, no UDF:
    the whole sampler is JVM expressions inside codegen), stored as
    the 8-byte xxhash64(f, t) since only component equality is ever
    tested downstream.
    Banding and candidate generation are the standard 16x2 LSH
    shapes; pairs report >= 16/32 matching components (est >= 0.5,
    the q_dedup_weighted_jaccard threshold).

    Deterministic by construction (hash-derived randomness), but the
    ln/exp chains make cross-engine bit-equality unreliable — so
    this is a documented rows-only query: recall vs the exact
    weighted pairs is floored in tests and trended per round in
    RECALL_LOCAL.json, the same contract as the ANN family.

    Scale: one scan + per-doc aggregate + banded equi-join; the
    sampler is O(n_samples) md5s + arithmetic per shingle row,
    all map-side.
    """
    # Narrow-key idf pipeline (round-9 verdict #5: this query's 17.5x
    # shuffle amplification was dominated by the df join-back moving
    # SHINGLE STRINGS on both sides): the 60-bit _tok60 hash is taken
    # FIRST, so the vocabulary aggregate shuffles 8-byte keys with
    # partial counts and the join-back ships 16-byte rows — the
    # sampler only ever needed the hash (its uniforms derive from
    # xxhash64(f)), so signatures and pairs are unchanged.
    # shingle strings: _tok60(shingle) feeds the sampler's xxhash64(f)
    # (pairs recall-pinned by tests/test_weighted_minhash.py)
    s = _shingle_rows(spark, sf_dir)
    # sf_ persisted (narrow: doc_id + 8-byte hash): the df aggregate,
    # the doc-count scalar, and the weight join-back each re-ran the
    # full shingle pipeline unpersisted (caller releases, caching.py)
    sf_ = s.select("doc_id", _tok60("shingle").alias("f")).persist()
    df_rel = sf_.groupBy("f").agg(F.count(F.lit(1)).alias("df"))
    nd = sf_.agg(F.count_distinct("doc_id").alias("n"))
    # join-back ships (f, df-as-int): w = ln(N/df) > 0 is exactly
    # df < N, and the weight chain (lnw = ln ln (N/df)) derives
    # POST-shuffle from df + the 1-row broadcast count — small
    # mostly-1 ints cross the wire (lz4 strips them) instead of
    # incompressible random doubles
    w = (df_rel.crossJoin(F.broadcast(nd))
         .where(F.col("df") < F.col("n"))
         .select("f", F.col("df").cast("int").alias("df")))
    sw = sf_.join(w, "f")

    # two independent 31-bit hash keys per shingle; every uniform is
    # a 2-universal multiply-add over them — integer-only, codegen-
    # friendly (every product < 2^62, exact in int64). The k-loop is
    # DATA, not expression trees (round-7 verdict: 32 unrolled
    # min_by trees with the sampler inlined cost ~7 s of
    # plan-constant codegen/analysis — 160 hash expressions): the
    # per-sample (a, b, c) triples ride as ONE literal array of
    # structs, posexplode fans each shingle row out to its 32
    # samples, and a single min_by aggregates over (doc_id, k) —
    # 1 deep expression tree evaluated 32x rows instead of 32 trees.
    # The repartition("doc_id") BEFORE the explode is what makes
    # this win (measured 5.6-6.7 s at sf0.1 vs the unrolled 12.3 s):
    # hash-partitioning on doc_id satisfies both downstream
    # groupings (subset rule), so the 32x-exploded rows never
    # shuffle — without it the shingle-partitioned input's partial
    # aggs emit docs x 32 rows PER PARTITION (5M-row shuffle,
    # measured 16.5 s); a transform()-lambda variant with no explode
    # was 3x slower still (higher-order functions sit outside
    # whole-stage codegen). Shuffle volume: 250k narrow base rows —
    # LESS than the unrolled shape's 160k wide partial rows. Same
    # params -> identical signatures and pairs as the unrolled shape
    # (verified: 28 rows sf0.001, 256 rows sf0.1, bit-equal).
    prime = _CW_PRIME
    params, _ = _cw_params(5 * _ICWS_N, seed=_CW_SEED + 7)
    par = F.array(*[
        F.struct(*[F.lit(params[5 * k + i][j]).alias(f"{n}{i}")
                   for i in range(5)
                   for j, n in ((0, "a"), (1, "b"), (2, "c"))])
        for k in range(_ICWS_N)])
    # the repartitioned row is the NARROWEST sufficient one (doc_id,
    # 60-bit shingle hash, df-as-int — the lnw double is derived
    # POST-shuffle from df + the 1-row broadcast count, so mostly-1
    # compressible ints cross the wire instead of random doubles):
    # the shingle string never crosses ANY shuffle (hashed before the
    # df agg above), and the two 31-bit sampler keys derive from the
    # 60-bit hash on the receiving side (signature components carry
    # the hash too — equality is all banding and match counting need,
    # the _tok60 argument)
    base = (sw.select("doc_id", "f", "df")
            .repartition("doc_id")
            .crossJoin(F.broadcast(nd))
            .select("doc_id", "f",
                    F.log(F.log(F.col("n") * 1.0 / F.col("df")))
                    .alias("lnw")))
    ex = base.select(
        "doc_id", "f", "lnw",
        F.pmod(F.xxhash64("f"), F.lit(prime)).alias("h1"),
        F.pmod(F.xxhash64("f", F.lit(1)), F.lit(prime)).alias("h2"),
        F.posexplode(par).alias("k", "p"))

    def u(i):
        return (((F.col(f"p.a{i}") * F.col("h1")
                  + F.col(f"p.b{i}") * F.col("h2")
                  + F.col(f"p.c{i}")) % prime)
                .cast("double") + 0.5) / float(prime)

    # fused transcendentals: Gamma(2,1) = -ln(u*u) (one ln, not
    # two) and a = c/(y e^r) = c * exp(-r (t - beta + 1)) (one
    # exp) — 3 transcendental ops per sample instead of 7; the
    # signature component is a STRUCT (no per-row string build —
    # 8.3M concat_ws at sf0.1 was the other signature-stage cost)
    r = -F.log(u(0) * u(1))
    c = -F.log(u(2) * u(3))
    beta = u(4)
    t = F.floor(F.col("lnw") / r + beta)
    a = c * F.exp(-r * (t - beta + 1))
    comp = F.struct(F.col("f"), t.cast("long").alias("t"))
    mins = (ex.groupBy("doc_id", "k")
            .agg(F.min_by(comp, a).alias("m")))
    # k-sorted signature ARRAY per doc (both aggs are exchange-free
    # after the repartition); bands and the match count are shallow
    # element_at / zip_with trees over it. Each component collapses
    # to ONE long, xxhash64(f, t): banding and match counting only
    # ever test component EQUALITY, so an 8-byte hash is sufficient
    # (within-pair collision odds ~2^-64 per component) and the
    # corpus-sized sig relation the verification sort-merge ships
    # drops from 24B+struct-overhead to 8B per component (round-9
    # verdict #5: part two of the amplification cut).
    sig = (mins.groupBy("doc_id")
           .agg(F.array_sort(F.collect_list(F.struct(
               "k", F.xxhash64(F.col("m.f"), F.col("m.t")).alias("c"))))
               .alias("kc"))
           .select("doc_id", F.col("kc.c").alias("sg"))
           .persist())  # caller releases (caching.py contract)

    def band_hash(j):
        # 8-byte band key (xxhash64 over the band's components) —
        # the md5-hex strings the unrolled shape used tripled the
        # band self-join's bytes for no extra safety at 64 bits
        return F.xxhash64(*[
            F.element_at(F.col("sg"), j * _ICWS_ROWS + i + 1)
            for i in range(_ICWS_ROWS)])

    bands = _band_rows(sig, [band_hash(j) for j in range(_ICWS_BANDS)])
    cand = (_band_join(bands, bands, F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())
    n_matches = F.size(F.filter(
        F.zip_with(F.col("x.sg"), F.col("y.sg"),
                   lambda p, q: p == q),
        lambda b: b))
    # merge hints: sig is CORPUS-sized and carries the signature
    # array — its parquet-compressed size lies to AQE, whose runtime
    # shuffle-to-broadcast conversion of exactly this build OOM'd the
    # 30x tier (the q_dedup_funnel rationale); the hint pins the
    # sort-merge strategy AQE would otherwise override. Caught by the
    # executed plan-audit pass (aqe-array-broadcast) the moment it
    # could see final adaptive plans.
    return (cand
            .join(sig.alias("x").hint("merge"),
                  F.col("doc_a") == F.col("x.doc_id"))
            .join(sig.alias("y").hint("merge"),
                  F.col("doc_b") == F.col("y.doc_id"))
            .select("doc_a", "doc_b",
                    n_matches.cast("bigint").alias("n_matches"),
                    F.round(n_matches / F.lit(float(_ICWS_N)), 6)
                    .alias("est_weighted_jaccard"))
            .where(F.col("n_matches") >= _ICWS_MIN_MATCHES))


_CANOPY_MAX_DF = 5   # a shingle is a canopy key only if <= 5 docs
_CANOPY_K = 2        # each doc contributes its 2 rarest keys


@register(
    "q_canopy_rare_shingle_pairs",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    d AS (
        SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df
        FROM s GROUP BY shingle),
    rare AS (
        SELECT s.doc_id, s.shingle,
               row_number() OVER (PARTITION BY s.doc_id
                                  ORDER BY d.df, s.shingle) AS rk
        FROM s JOIN d USING (shingle)
        WHERE d.df <= {_CANOPY_MAX_DF}),
    keys AS (SELECT doc_id, shingle FROM rare WHERE rk <= {_CANOPY_K})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_keys
    FROM keys a JOIN keys b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """,
    tags=("dedup", "canopy", "blocking", "record-linkage", "near-dup",
          "documents"),
)
def q_canopy_rare_shingle_pairs(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Canopy candidate generation by RARE shingles (the MapReduce
    adaptation of McCallum/Nigam/Ungar canopy clustering: the cheap
    metric is "shares a rare feature", and the expensive comparator
    only ever sees within-canopy pairs). Completes the candidate-
    generator quartet: equality blocks (q_er_fellegi_sunter), sorted
    neighborhood (q_sorted_neighborhood_pairs), phonetic keys
    (q_soundex_phonetic_keys), frequency-driven canopies — vs the
    hash-driven LSH band family (q_dedup_minhash_lsh).

    Each doc contributes its 2 rarest qualifying shingles (total
    order (df, shingle) — deterministic under ties) and only
    shingles with df <= 5 qualify as canopy keys AT ALL: the cap is
    what bounds the join — a canopy can never exceed 5 docs (10
    pairs), whatever the corpus size, so candidates are O(K * n)
    with constant 5, the same skew-immunity argument as the sorted-
    neighborhood window. Docs with no rare shingle join no canopy —
    canopy generation is recall-trading by design (boilerplate-only
    docs have no discriminative feature; the MinHash band path
    catches those).

    Scale shape: one df aggregate, one broadcast-able df join, a
    PER-DOC window (partitioned, never global), then an equi-join on
    the canopy key whose per-key fan-out is capped by construction.
    """
    # persisted: the df aggregate and the rare-key join-back both
    # consume s (caller releases, caching.py contract); shingle
    # strings: the oracle's (df, shingle) rank order
    s = _shingle_rows(spark, sf_dir).persist()
    d = s.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    rare = (s.join(d.where(F.col("df") <= _CANOPY_MAX_DF), "shingle")
            .withColumn("rk", F.row_number().over(
                Window.partitionBy("doc_id")
                .orderBy("df", "shingle")))
            .where(F.col("rk") <= _CANOPY_K)
            .select("doc_id", "shingle"))
    a = rare.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = rare.select(F.col("doc_id").alias("doc_b"), "shingle")
    return (a.join(b, "shingle")
            .where(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_shared_keys")))


_HEXV = "strpos('0123456789abcdef', substr(md5(shingle), {p}, 1)) - 1"
_STG_BITS = " + ".join(
    f"bit_count(x.b{i} & ~y.b{i})" for i in range(_SFX_LONGS))
_STG_BITS_REV = " + ".join(
    f"bit_count(y.b{i} & ~x.b{i})" for i in range(_SFX_LONGS))
# DuckDB's << range-checks signed overflow (1 << 63 errors) where
# Spark's shiftleft wraps to the sign bit — special-case bit 63
_STG_SHIFT = ("CASE WHEN v % 64 = 63 THEN CAST(-9223372036854775808 "
              "AS BIGINT) ELSE CAST(1 AS BIGINT) << CAST(v % 64 AS INT) "
              "END")
_STG_BIT_COLS = ",\n               ".join(
    f"COALESCE(bit_or(CASE WHEN v // 64 = {i} THEN {_STG_SHIFT} END), 0)"
    f" AS b{i}"
    for i in range(_SFX_LONGS))


@register(
    "q_dedup_funnel_stages",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    dfc AS (SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df
            FROM s GROUP BY shingle),
    docs AS (
        SELECT s.doc_id,
               list(s.shingle ORDER BY dfc.df, s.shingle) AS arr,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM s JOIN dfc USING (shingle) GROUP BY s.doc_id),
    pref AS (
        SELECT doc_id, n, arr[i] AS tok, i - 1 AS pos
        FROM docs, UNNEST(range(1, n - (3*n + 4) // 5 + 2)) AS u(i)),
    g AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               MAX(a.n) AS na, MAX(b.n) AS nb,
               CAST(COUNT(*) AS BIGINT) AS m,
               MAX(a.pos) AS pa, MAX(b.pos) AS pb
        FROM pref a JOIN pref b
          ON a.tok = b.tok AND a.doc_id < b.doc_id
         AND 5 * a.n >= 3 * b.n AND 5 * b.n >= 3 * a.n
        GROUP BY 1, 2),
    g2 AS (
        SELECT * FROM g
        WHERE 8 * (m + LEAST(na - pa - 1, nb - pb - 1)) >= 3 * (na + nb)),
    vals AS (
        SELECT doc_id,
               (({_HEXV.format(p=14)}) * 16
                + ({_HEXV.format(p=15)})) AS v
        FROM s),
    bits AS (
        SELECT doc_id,
               {_STG_BIT_COLS}
        FROM vals GROUP BY doc_id),
    g3 AS (
        SELECT g2.* FROM g2
        JOIN bits x ON g2.doc_a = x.doc_id
        JOIN bits y ON g2.doc_b = y.doc_id
        WHERE 8 * (na - ({_STG_BITS})) >= 3 * (na + nb)
          AND 8 * (nb - ({_STG_BITS_REV})) >= 3 * (na + nb)),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
    ver AS (
        SELECT COUNT(*) AS c FROM pairs
        JOIN docs x ON doc_a = x.doc_id JOIN docs y ON doc_b = y.doc_id
        WHERE n_common * 1.0 / (x.n + y.n - n_common) >= 0.6)
    SELECT 'length_prefix' AS stage,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM g) AS n_pairs
    UNION ALL
    SELECT 'positional', (SELECT CAST(COUNT(*) AS BIGINT) FROM g2)
    UNION ALL
    SELECT 'suffix_bitmap', (SELECT CAST(COUNT(*) AS BIGINT) FROM g3)
    UNION ALL
    SELECT 'verified', (SELECT CAST(c AS BIGINT) FROM ver)
    """,
    tags=("dedup", "funnel", "observability", "prefix-filter",
          "candidate-stats"),
)
def q_dedup_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OBSERVABILITY of the ppjoin candidate funnel: one row per
    pruning stage with the surviving pair count — length+prefix ->
    positional -> suffix-bitmap -> verified. This is the row a
    production dedup run alerts on (a collapsing prefix stage means
    a boilerplate shingle entered every prefix; a suffix stage that
    stops pruning means the bitmap saturated — time to widen it),
    and the ratio between stages IS the measured selectivity of each
    filter (sf0.1: 193k -> 66k -> 256 -> 256).

    The DuckDB oracle replays the ENTIRE funnel algebra exactly:
    the (df, shingle) global ordering, the integer prefix slice, the
    positional upper bound with 0-based last-match positions, and
    the 256-bit set bitmap (the bucket of a shingle's 60-bit md5
    prefix is its low byte — hex chars 14-15 — so the oracle derives
    the very same buckets from md5 strings with list algebra and
    bit_or/bit_count; everything integer, no float seam). The
    verified stage equals the brute-force count because every filter
    is lossless — so this query's oracle equality is also a per-run
    PROOF of losslessness at all three stages, stronger than the
    pair-set equality q_dedup_prefix_filter pins.

    Scale shape: the same ppjoin helpers as q_dedup_prefix_filter
    (``_df_sets`` -> ``_prefix_groups`` -> ``_positional`` ->
    ``_suffix`` -> ``_intersect``) on string shingles, counted between
    stages; counts reach the driver as four integers.
    """
    # shingle strings: the oracle's (df, shingle) order and
    # md5(shingle) buckets (_df_sets hashes them through _tok60)
    rows = _shingle_rows(spark, sf_dir)
    sets = _df_sets(rows, _PF_NUM, _PF_DEN)
    grouped = _prefix_groups(sets).persist()
    g3 = _suffix(_positional(grouped), sets).persist()
    try:
        n1 = grouped.count()
        n2 = _positional(grouped).count()
        n3 = g3.count()
        n4 = (_intersect(g3, sets)
              .where(_jaccard() >= _PF_THRESHOLD).count())
    finally:
        for cached in (rows, sets, grouped, g3):
            cached.unpersist()
    return spark.createDataFrame(
        [("length_prefix", n1), ("positional", n2),
         ("suffix_bitmap", n3), ("verified", n4)],
        "stage string, n_pairs bigint")


_OC_NUM, _OC_DEN = 4, 5   # overlap coefficient threshold 4/5


@register(
    "q_dedup_overlap_coeff",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
           FROM s GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
    SELECT doc_a, doc_b, x.n AS n_a, y.n AS n_b, n_common,
           ROUND(n_common * 1.0 / LEAST(x.n, y.n), 6) AS overlap_coeff
    FROM pairs JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
    WHERE {_OC_DEN} * n_common >= {_OC_NUM} * LEAST(x.n, y.n)
    """,
    tags=("dedup", "near-dup", "overlap-coefficient", "containment",
          "prefix-filter"),
)
def q_dedup_overlap_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-containment: pairs whose overlap coefficient
    |A∩B| / min(|A|,|B|) >= 4/5 — the noisy-excerpt case
    q_dedup_containment's exact-subset test misses (a quoted
    paragraph with one edited sentence is 0.9-containment,
    0.0-subset) and symmetric Jaccard under-scores whenever sizes
    differ. The threshold is the exact integer inequality
    5*o >= 4*min (no float seam).

    Candidate generation is the asymmetric prefix filter at overlap
    threshold t = 4/5: probe each doc's first ``n - ceil(t*n) + 1``
    globally-rarest shingles against ALL shingle occurrences of
    LARGER-or-equal docs. Lossless: a pair sharing NO probe-prefix
    shingle has o <= n_s - prefix_len = ceil(t*n_s) - 1 < t*n_s =
    t*min, below threshold (the containment-query derivation from
    the ppjoin literature; q_dedup_containment is its t=1
    degenerate). Candidate volume tracks rare-shingle collisions —
    never the hot-shingle-quadratic self-join the brute-force oracle
    runs. Verification: one ``array_intersect`` over merge-hinted
    64-bit xxhash64 arrays per candidate (the never-broadcast
    discipline); equal-size pairs generate in both directions, deduped
    by the final distinct. Oracle: the brute-force join — equality
    proves the filter lossless per run.
    """
    # hashed: the probe-prefix losslessness holds under ANY consistent
    # total order (see _df_sets), and no string reaches the output.
    # The suffix bound inside _probe_pairs matters here: without it the
    # longer t=4/5 probe prefixes ballooned the verification to 93.9x
    # source-byte amplification on the dup-saturated fixture (22.7x
    # with it)
    sets = _df_sets(_shingle_rows(spark, sf_dir, hashed=True),
                    _OC_NUM, _OC_DEN)
    ver = (_intersect(_probe_pairs(sets, _OC_NUM, _OC_DEN), sets)
           .where(_OC_DEN * F.col("n_common") >= _OC_NUM * F.col("na")))
    return _smaller_id_first(
        ver, F.round(F.col("n_common") / F.col("na"), 6)
        .alias("overlap_coeff"))


@register(
    "q_dedup_cluster_reps",
    oracle=_CLUSTERS_ORACLE.replace(
        "SELECT doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc_id",
        """, cc AS (SELECT doc_id, MIN(r) AS cluster_id
              FROM reach GROUP BY doc_id),
    members AS (
        SELECT cc.cluster_id, cc.doc_id,
               CAST(d.n_chars AS BIGINT) AS n_chars
        FROM cc JOIN documents d USING (doc_id)),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
                                     ORDER BY n_chars DESC, doc_id) AS rn
        FROM members)
    SELECT m.cluster_id AS cluster_id,
           r.doc_id AS rep_doc_id,
           r.n_chars AS rep_chars,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_removed
    FROM members m
    JOIN ranked r ON r.cluster_id = m.cluster_id AND r.rn = 1
    GROUP BY 1, 2, 3"""),
    tags=("dedup", "near-dup", "clusters", "curation", "iterative"),
)
def q_dedup_cluster_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-representative selection per near-dup cluster — the
    curation ACTION the clustering enables: inside each connected
    component of the exact-Jaccard >= 0.6 graph (q_dedup_clusters'
    fixpoint), keep the longest document (n_chars, ties to the
    smallest doc_id) and count what the collapse removes. This is the
    "keep best-of-cluster" step every production dedup pipeline runs
    between pair detection and corpus rewrite (the funnel's
    near_dup_collapse stage reports counts; this operator names the
    survivors).

    Engine shape: the CC labels come from the driver-controlled
    min-label propagation (cluster-count-bounded rounds, the
    q_dedup_clusters plan — audited via its registered first-round
    builder), then ONE broadcastable join onto documents for lengths
    and ONE cluster-partitioned window (clusters are tiny cliques, so
    the window input is pairs-bounded, never corpus-bounded). The
    DuckDB oracle extends the recursive-CTE fixpoint with the same
    ranked selection, so representative choice is equality-gated, not
    asserted.
    """
    labels = q_dedup_clusters(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("bigint").alias("n_chars"))
    members = labels.join(docs, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id"))
    ranked = members.withColumn("rn", F.row_number().over(w))
    agg = (members.groupBy("cluster_id")
           .agg(F.count(F.lit(1)).alias("n_members")))
    return (ranked.where(F.col("rn") == 1)
            .select("cluster_id",
                    F.col("doc_id").alias("rep_doc_id"),
                    F.col("n_chars").alias("rep_chars"))
            .join(agg, "cluster_id")
            .select("cluster_id", "rep_doc_id", "rep_chars",
                    "n_members",
                    (F.col("n_members") - 1).alias("n_removed")))


@register_audit_plan(
    "q_dedup_cluster_reps",
    note="the representative-selection consumer (documents join + "
         "cluster-partitioned window + member-count join) over round-1 "
         "CC labels standing in for the converged fixpoint — the loop "
         "itself is audited via q_dedup_clusters' round-1 builder; "
         "this plan is what runs AFTER convergence, on an "
         "identically-shaped labels relation.")
def _q_dedup_cluster_reps_audit(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    labels = _q_dedup_clusters_round1(spark, sf_dir).drop("chg")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("bigint").alias("n_chars"))
    members = labels.join(docs, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id"))
    ranked = members.withColumn("rn", F.row_number().over(w))
    agg = members.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"))
    return (ranked.where(F.col("rn") == 1)
            .select("cluster_id", F.col("doc_id").alias("rep_doc_id"),
                    F.col("n_chars").alias("rep_chars"))
            .join(agg, "cluster_id")
            .select("cluster_id", "rep_doc_id", "rep_chars", "n_members",
                    (F.col("n_members") - 1).alias("n_removed")))
