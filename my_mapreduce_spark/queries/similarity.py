"""Similarity search over the ``embeddings`` table (SURVEY.md §2D).

Every kNN query is two stages: its own candidate generation, then one
shared exact refinement — ``_cos_raw`` scores candidates by exact
cosine (``_rerank`` first joins a bare id shortlist back to its
vectors) and ``_top_k`` keeps each query's best _K.

- ``q_knn_bruteforce`` — every corpus vector is a candidate; the
  correctness baseline, fully oracle-checked (double-precision math
  on both engines is bit-identical).
- ``q_knn_lsh_buckets`` — random-hyperplane (SimHash-for-vectors)
  sketches + Hamming-ball (closed-form multiprobe) pruning.
  Deterministic (hyperplanes derived from md5, no RNG) but
  oracle-free: its guarantee is recall, not equality, and the unit
  test measures recall against the brute-force path.
- ``q_knn_ivf`` / ``q_knn_ivf_file`` / ``q_knn_ivf_file_refresh`` —
  inverted-file ANN with a trained fixed-k coarse quantizer
  (distributed spherical k-means, O(k*d) driver traffic), in memory
  or served from a bucket-partitioned parquet index; one assignment
  pass (``_ivf_assign_fn``), one on-disk build (``_write_ivf_file``)
  and one serve (``_ivf_file_serve``).
- ``q_knn_pq_adc`` / ``q_knn_ivf_pq`` — product-quantization codes
  (``_pq_encode``) scored by asymmetric distance (``_adc_scores``),
  shortlisted, then reranked exactly.
- ``q_knn_rp_forest`` — median-split random-projection trees.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from my_mapreduce_spark.io import load_table
from my_mapreduce_spark.registry import register, register_audit_plan

_K = 5
_QUERY_FILTER = "vec_id % 100 = 0"   # deterministic query subset


def _as_double(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _normed(emb: DataFrame, *extra: str) -> DataFrame:
    # ingestion hygiene: NULL / empty / wrong-width vectors would
    # poison every downstream numpy path (np.stack needs a uniform
    # matrix) — drop them here, the single entry point. ``extra``
    # carries metadata columns (e.g. "label") through the SAME scan
    # instead of a self-join back onto the table.
    # NOT widened (round-11 measurement): the embeddings fixture is
    # 2000 rows, so splitting the scan into defaultParallelism tiny
    # mapInPandas tasks costs more in per-task Arrow/worker overhead
    # than the serial numpy pass saves — the family A/B regressed
    # 1.7x with a widen here (vs the text corpus, where exploded
    # shingle work is 100x bigger per row and widening won 2-6x).
    # At 100 TB real embedding tables arrive multi-file/multi-row-
    # group and the scan parallelizes by itself.
    v = _as_double("embedding")
    return (emb.where(F.col("embedding").isNotNull()
                      & (F.size("embedding") == _DIM))
            .select("vec_id", v.alias("v"), F.sqrt(_dot(v, v)).alias("nrm"),
                    *extra))


_KNN_SCHEMA = "query_id long, neighbor_id long, cosine double, rnk int"


def _query_side(df: DataFrame, *extra) -> DataFrame:
    """Rename a (vec_id, v, nrm) frame to the query side of a kNN
    join: (query_id, qv, qnrm, *extra)."""
    return df.select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
                     F.col("nrm").alias("qnrm"), *extra)


def _cos_raw() -> Column:
    """Exact cosine of a query row (qv, qnrm) against a corpus row
    (v, nrm) — the one refinement score of every kNN path."""
    return _dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm"))


def _top_k(scored: DataFrame) -> DataFrame:
    """The kNN result of exact-scored candidates (query_id,
    neighbor_id, cos_raw): per query the _K best, ties broken on the
    smaller neighbor id, cosine rounded to 6dp. One per-query window
    — the only shuffle left after candidate generation moves
    k*|queries| rows."""
    w = Window.partitionBy("query_id").orderBy(F.col("cos_raw").desc(),
                                               "neighbor_id")
    return (scored.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= _K)
            .select("query_id", "neighbor_id",
                    F.round("cos_raw", 6).alias("cosine"), "rnk"))


def _rerank(shortlist: DataFrame, e: DataFrame) -> DataFrame:
    """Exact cosine of a (query_id, neighbor_id) candidate shortlist:
    both ids join back to their true vectors in the normed corpus
    ``e`` (query side broadcast), so only |shortlist| embeddings are
    read. Feed the result to _top_k."""
    cn = e.select(F.col("vec_id").alias("neighbor_id"), "v", "nrm")
    return (shortlist
            .join(F.broadcast(_query_side(e)), "query_id")
            .join(cn, "neighbor_id")
            .select("query_id", "neighbor_id", _cos_raw().alias("cos_raw")))


@register(
    "q_knn_bruteforce",
    oracle=f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
    q AS (SELECT * FROM n WHERE {_QUERY_FILTER}),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cos_raw
        FROM q JOIN n c ON q.vec_id <> c.vec_id),
    ranked AS (
        SELECT query_id, neighbor_id, cos_raw,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos_raw DESC, neighbor_id) AS rnk
        FROM scored)
    SELECT query_id, neighbor_id, ROUND(cos_raw, 6) AS cosine, rnk
    FROM ranked WHERE rnk <= {_K}
    """,
    tags=("similarity", "knn"),
)
def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5: broadcast the (small) query set against
    the corpus — one scan of the corpus, no shuffle until the
    per-query top-k window (which moves k*|queries| rows).

    At 100 TB the corpus side stays partition-parallel; only the
    query set must be small (it is broadcast). For corpus-x-corpus
    all-pairs, see q_dedup_embedding_cosine / q_knn_lsh_buckets.
    """
    e = _normed(load_table(spark, sf_dir, "embeddings"))
    q = _query_side(e.where(F.expr(_QUERY_FILTER)))
    return _top_k(
        e.join(F.broadcast(q), F.col("query_id") != F.col("vec_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                _cos_raw().alias("cos_raw")))


_N_PLANES = 96       # sketch width in bits (3 x 32-bit words)
_HAMMING_PRUNE = 43  # candidate = within this Hamming radius of the query
_DIM = 64


_N_SKETCH_WORDS = (_N_PLANES + 31) // 32


def _plane_weights():
    """(planes x dim) hyperplane weight matrix. Plane p's weight on
    dim d is (md5-nibble(p,d) - 7.5) — deterministic, zero-mean,
    reproducible anywhere (no RNG state)."""
    import hashlib

    import numpy as np

    return np.array([
        [int(hashlib.md5(f"{p}_{d}".encode()).hexdigest()[0], 16) - 7.5
         for d in range(_DIM)]
        for p in range(_N_PLANES)], dtype="float64")


def _with_sketch(df: DataFrame) -> DataFrame:
    """Append sk0..sk{w-1} 32-bit sketch words to a (vec_id, v, nrm)
    frame. One vectorized Arrow pass: the (n x dim) batch matrix is
    multiplied against the (dim x planes) weight matrix and the sign
    bits are packed into words. A 24-plane all-literal Catalyst
    expression was JVM-side but at 96 planes the 6144-literal plan
    took longer to analyze+codegen than the whole query; the numpy
    projection is O(n*dim*planes) inside one whole-scan mapInPandas
    with a ~50 KB closure — the same linear-pass shape, no shuffle.
    (Projection sign is norm-invariant, so v need not be normalized.)
    """
    import numpy as np
    import pandas as pd

    wt = _plane_weights().T   # (dim, planes)

    def add_sketch(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            bits = (np.stack(pdf["v"].to_numpy()) @ wt) > 0
            out = {"vec_id": pdf["vec_id"], "v": pdf["v"], "nrm": pdf["nrm"]}
            for i in range(_N_SKETCH_WORDS):
                word = np.zeros(len(pdf), dtype="int64")
                for j in range(i * 32, min(i * 32 + 32, _N_PLANES)):
                    word |= bits[:, j].astype("int64") << (j - i * 32)
                out[f"sk{i}"] = word
            yield pd.DataFrame(out)

    schema = ("vec_id long, v array<double>, nrm double, "
              + ", ".join(f"sk{i} long" for i in range(_N_SKETCH_WORDS)))
    return df.mapInPandas(add_sketch, schema=schema)


def _hamming(a_prefix: str, b_prefix: str) -> Column:
    """Hamming distance between two word-packed sketches — one
    XOR+popcount per word, all JVM expressions."""
    return sum(
        (F.bit_count(F.col(f"{a_prefix}{i}").bitwiseXOR(F.col(f"{b_prefix}{i}")))
         for i in range(1, _N_SKETCH_WORDS)),
        F.bit_count(F.col(f"{a_prefix}0").bitwiseXOR(F.col(f"{b_prefix}0"))))


@register(
    "q_knn_lsh_buckets",
    oracle=None,  # recall-bounded, not equality-bounded; see tests/test_similarity.py
    tags=("similarity", "knn", "lsh"),
)
def q_knn_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: 96-bit hyperplane sketches; candidates are
    corpus vectors within Hamming distance 43 of the query
    sketch, reranked by exact cosine.

    The Hamming-radius test is multiprobe in closed form: instead of
    enumerating the probe buckets around the query (the classical
    formulation), the radius-43 Hamming ball is evaluated
    directly against each corpus sketch — three XOR+popcount ops per
    pair, all JVM, no probe-key blowup. Thresholding the FULL sketch
    is also the likelihood-ratio-optimal candidate test for
    hyperplane LSH (banded probing discards cross-band evidence),
    which matters on this fixture: the vectors are near-uniform
    (top-5 cosine ~0.5, neighbor bit-flip prob ~1/3 vs random 1/2 —
    the LSH worst case), where banding cannot separate.

    The sketch computation is one vectorized Arrow projection pass
    (no shuffle; see _with_sketch); the candidate filter is evaluated
    against broadcast query sketches during the corpus scan. This is
    the shape that survives 100 TB: sketch once, Hamming-prune,
    rerank only candidates. (For all-pairs workloads where the query side is the
    corpus itself, the banded equi-join in q_dedup_simhash is the
    scale path instead.)

    Parameters (96 planes, radius 43) measure recall 0.92 (sf0.001)
    / 0.91 (sf0.1) at ~4x candidate pruning — vs 0.72 at ~3x for
    the previous 24-bit single-probe sketch; asserted >= 0.85 in
    tests/test_similarity.py.
    """
    e = _with_sketch(_normed(load_table(spark, sf_dir, "embeddings")))
    q = _query_side(
        e.where(F.expr(_QUERY_FILTER)),
        *[F.col(f"sk{i}").alias(f"qsk{i}") for i in range(_N_SKETCH_WORDS)])
    hamming = _hamming("sk", "qsk")
    return _top_k(
        e.join(F.broadcast(q),
               (F.col("query_id") != F.col("vec_id")) & (hamming <= _HAMMING_PRUNE))
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                _cos_raw().alias("cos_raw")))


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the second scale path
# ---------------------------------------------------------------------------

import os as _os

_IVF_ROUNDS = 2    # distributed spherical-k-means refinement passes
_IVF_ASSIGN = 2    # each corpus vector is indexed under its 2 nearest buckets


def _ivf_nprobe(k: int) -> int:
    """Probe ~a quarter of the buckets, at least 6. The fixture's
    vectors are near-uniform (the IVF worst case — nearest neighbors
    are barely above the random-cosine floor), so recall needs a
    generous probe budget; clustered real-world embeddings reach the
    same recall at nprobe/k an order of magnitude smaller."""
    return min(k, max(6, k // 4))


_IVF_K_CAP = 4096  # centroid-count ceiling; also the seed pool size


def _ivf_k(n_rows: int) -> int:
    """Centroid count: ~sqrt(n) clamped to [16, _IVF_K_CAP].
    Crucially it does NOT grow linearly with the corpus — at 100 TB
    (billions of vectors) this still caps at 4096, so everything
    driver-side stays O(k*d), never O(n)."""
    return max(16, min(_IVF_K_CAP, int(n_rows ** 0.5)))


def _ivf_seed(e: DataFrame):
    """Deterministic quantizer seed + (often free) exact corpus count.

    One distributed top-k collects the _IVF_K_CAP rows with the
    smallest md5(vec_id) (TakeOrdered: O(cap) per partition, O(cap)
    collected — never a scan-collect). Because k is capped at
    _IVF_K_CAP anyway, this single job yields BOTH the seed pool and,
    whenever the corpus fits under the cap (every test SF), the exact
    row count — fusing what used to be a separate full count() job.
    Only a >cap corpus pays the count scan, where it is a rounding
    error. Returns (seed_rows, n_rows)."""
    seed = (e.select("vec_id", "v", "nrm")
            .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
            .limit(_IVF_K_CAP).collect())
    n = e.count() if len(seed) == _IVF_K_CAP else len(seed)
    return seed, n


def _train_quantizer(e: DataFrame, seed, k: int, dim: int):
    """Train a k-centroid coarse quantizer with driver traffic O(k*d).

    Seed: the k rows with the smallest md5(vec_id) — a deterministic
    pseudo-random sample (the head of _ivf_seed's top-k pool).

    Refine: _IVF_ROUNDS rounds of Lloyd's on the unit sphere. Each
    round is one linear mapInPandas pass emitting per-task partial
    (centroid-sum, count) pairs — k rows of d doubles per task — which
    are reduced map-side-combined by a groupBy to exactly k*d scalars
    before they ever reach the driver. Empty clusters keep their old
    centroid. Returns a (k, d) unit-row numpy matrix.
    """
    import numpy as np
    import pandas as pd

    c_mat = np.stack([np.asarray(r.v) / r.nrm for r in seed[:k]])

    for _ in range(_IVF_ROUNDS):
        cm = c_mat  # bind the current round's centroids into the closure

        def partial_sums(batches, cm=cm):
            sums = np.zeros_like(cm)
            cnts = np.zeros(len(cm), dtype="int64")
            for pdf in batches:
                if not len(pdf):
                    continue
                vm = np.stack(pdf["v"].to_numpy())
                vm = vm / np.linalg.norm(vm, axis=1, keepdims=True)
                a = np.argmax(vm @ cm.T, axis=1)
                np.add.at(sums, a, vm)
                np.add.at(cnts, a, 1)
            yield pd.DataFrame({"cid": np.arange(len(cm)),
                                "s": list(sums), "cnt": cnts})

        rows = (
            e.mapInPandas(partial_sums, schema="cid long, s array<double>, cnt long")
            .select("cid", "cnt", F.posexplode("s").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(F.sum("val").alias("sv"), F.sum("cnt").alias("cnt_d"))
            .collect())
        sums = np.zeros_like(c_mat)
        cnts = np.zeros(len(c_mat))
        for r in rows:
            sums[r.cid, r.pos] = r.sv
            if r.pos == 0:
                cnts[r.cid] = r.cnt_d
        nonempty = cnts > 0
        means = sums[nonempty] / cnts[nonempty, None]
        norms = np.linalg.norm(means, axis=1, keepdims=True)
        c_mat = c_mat.copy()
        c_mat[nonempty] = means / np.where(norms == 0, 1.0, norms)
    return c_mat


_IVF_SCHEMA = "vec_id long, v array<double>, nrm double, bucket long"


def _ivf_assign_fn(c_mat, nassign: int):
    """mapInPandas generator (output _IVF_SCHEMA): each (vec_id, v,
    nrm) row once per bucket among its nassign nearest centroids.
    The one IVF assignment pass: q_knn_ivf's corpus assignment and
    query probe, q_knn_ivf_pq's inverted file, the on-disk build and
    delta append, and q_dedup_semantic's clusters all run it."""
    import numpy as np
    import pandas as pd

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            vm = np.stack(pdf["v"].to_numpy())
            vm = vm / np.linalg.norm(vm, axis=1, keepdims=True)
            top = np.argsort(-(vm @ c_mat.T), axis=1)[:, :nassign]
            n_c = len(pdf)
            yield pd.DataFrame({
                "vec_id": np.repeat(pdf["vec_id"].to_numpy(), nassign),
                "v": np.repeat(pdf["v"].to_numpy(), nassign),
                "nrm": np.repeat(pdf["nrm"].to_numpy(), nassign),
                "bucket": top.reshape(n_c * nassign)})
    return assign


@register(
    "q_knn_ivf",
    oracle=None,  # recall-bounded; measured in tests/test_similarity.py
    tags=("similarity", "knn", "ivf"),
)
def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via an inverted-file (IVF) index with a
    TRAINED fixed-k coarse quantizer.

    Build: k = min(4096, ~sqrt(n)) centroids (never O(n)) are seeded
    from a deterministic distributed top-k sample and refined with
    spherical k-means where only k*d partial sums cross to the driver
    per round (see _train_quantizer). The k x d centroid matrix
    (<=2 MB at the cap) broadcasts to every task via closure. Each
    corpus vector is assigned to its nearest centroid with one
    vectorized numpy matmul per Arrow batch (mapInPandas); the
    (bucket -> vectors) relation IS the inverted file.

    Search: each query probes its nprobe (sqrt(k)-scaled) nearest buckets only,
    reranking candidates by exact cosine (JVM fold) and keeping
    top-5. Work per query is |corpus| * nprobe / k instead of
    |corpus|.

    At 100 TB: training is _IVF_ROUNDS+1 linear scans with O(k*d)
    driver traffic; the assignment pass is a single linear scan (no
    shuffle); the probe join is an equi-join on bucket id — the
    partitioning ansatz every production IVF system (FAISS-style)
    distributes on.
    """
    # The build makes several passes over the normalized corpus
    # (count, seed, k-means rounds, assignment): cache it for the
    # build, exactly as production IVF training materializes its
    # training set. MEMORY_AND_DISK, so an over-RAM corpus spills
    # rather than OOMs; at extreme scale train on a sampled subset
    # instead (swap `e` for e.sample in _train_quantizer).
    e = _normed(load_table(spark, sf_dir, "embeddings")).persist()
    seed, n = _ivf_seed(e)
    if n == 0:  # empty corpus: typed empty result, not a crash
        return spark.createDataFrame([], _KNN_SCHEMA)
    k = _ivf_k(n)
    c_mat = _train_quantizer(e, seed, k, _DIM)
    inv = e.mapInPandas(_ivf_assign_fn(c_mat, min(_IVF_ASSIGN, k)),
                        schema=_IVF_SCHEMA)
    # a query's probe list is its assignment to its nprobe nearest buckets
    q = _query_side(e.where(F.expr(_QUERY_FILTER))
                    .mapInPandas(_ivf_assign_fn(c_mat, _ivf_nprobe(k)),
                                 schema=_IVF_SCHEMA), "bucket")
    return _top_k(
        inv.join(q, "bucket")
        .where(F.col("query_id") != F.col("vec_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                _cos_raw().alias("cos_raw"))
        # multi-assignment + multi-probe can surface the same candidate
        # via several buckets; collapse before ranking
        .dropDuplicates(["query_id", "neighbor_id"]))


@register(
    "q_embedding_quantize",
    oracle="""
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
    s AS (
        SELECT vec_id, v,
               GREATEST(list_max(list_transform(v, x -> abs(x))), 1e-12)
                   AS scale
        FROM e),
    q AS (
        SELECT vec_id, v, scale,
               list_transform(v, x -> CAST(floor(x * 127.0 / scale + 0.5)
                                           AS BIGINT)) AS qv
        FROM s),
    d AS (
        SELECT vec_id, scale, qv,
               list_transform(qv, x -> x * scale / 127.0) AS dq, v
        FROM q)
    SELECT vec_id,
           ROUND(scale, 6)                                   AS scale,
           CAST(list_sum(qv) AS BIGINT)                      AS q_sum,
           CAST(list_min(qv) AS BIGINT)                      AS q_min,
           CAST(list_max(qv) AS BIGINT)                      AS q_max,
           ROUND(list_dot_product(v, dq)
                 / (sqrt(list_dot_product(v, v))
                    * sqrt(list_dot_product(dq, dq))), 6)    AS cos_recon
    FROM d
    """,
    tags=("embedding", "quantization", "storage"),
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column: per-vector
    max-abs scale, values mapped to [-127, 127] with explicit
    floor(x+0.5) rounding (pinned so both engines round identically),
    plus the reconstruction cosine against the original vector.

    This is the 4x storage/bandwidth reduction step an embedding
    store applies before ANN indexing at 100 TB; everything is
    built-in array HOFs (transform/aggregate/zip_with) — JVM-side,
    zero Python, linear scan, no shuffle.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    v = _as_double("embedding")
    e = emb.select("vec_id", v.alias("v"))
    scale = F.greatest(
        F.array_max(F.transform(F.col("v"), F.abs)), F.lit(1e-12))
    s = e.withColumn("scale", scale)
    qv = F.transform(
        F.col("v"),
        lambda x: F.floor(x * 127.0 / F.col("scale") + 0.5).cast("bigint"))
    q = s.withColumn("qv", qv)
    dq = F.transform(F.col("qv"), lambda x: x * F.col("scale") / 127.0)
    d = q.withColumn("dq", dq)
    return d.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        F.aggregate("qv", F.lit(0).cast("bigint"),
                    lambda acc, x: acc + x).alias("q_sum"),
        F.array_min("qv").alias("q_min"),
        F.array_max("qv").alias("q_max"),
        F.round(_dot(F.col("v"), F.col("dq"))
                / (F.sqrt(_dot(F.col("v"), F.col("v")))
                   * F.sqrt(_dot(F.col("dq"), F.col("dq")))), 6)
        .alias("cos_recon"),
    )


# ---------------------------------------------------------------------------
# Product quantization + asymmetric distance computation (PQ-ADC)
# ---------------------------------------------------------------------------

_PQ_M = 16         # subspaces: 64-dim -> 16 sub-vectors of 4 dims
_PQ_ROUNDS = 2     # Lloyd's refinement passes per subspace (all in one scan)


def _pq_ksub(n_rows: int) -> int:
    """Per-subspace codebook size: ~sqrt(n) clamped to [16, 256]. 256
    is the classic 1-byte-per-subspace PQ code; like _ivf_k it must
    never grow linearly with the corpus, so the codebook
    (m * ksub * d/m = ksub * d doubles <= 128 KB) always broadcasts."""
    return max(16, min(256, int(n_rows ** 0.5)))


def _pq_encode(vm, books):
    """PQ codes of unit rows ``vm``: an (n, _PQ_M) int64 matrix of
    each subvector's nearest codeword in ``books`` (m, ksub, d/m)."""
    import numpy as np

    dsub = _DIM // _PQ_M
    codes = np.empty((len(vm), _PQ_M), dtype="int64")
    for s in range(_PQ_M):
        sub = vm[:, s * dsub:(s + 1) * dsub]
        # argmin L2 == argmax (2<x,c> - |c|^2)
        d2 = (np.sum(sub * sub, axis=1, keepdims=True)
              - 2.0 * sub @ books[s].T
              + np.sum(books[s] * books[s], axis=1))
        codes[:, s] = np.argmin(d2, axis=1)
    return codes


def _pq_queries(e: DataFrame, books):
    """The fixed query set, driver-side: ``(q_ids, q_mat, lut)`` with
    q_mat the unit query rows and lut the ADC lookup table
    LUT[q, s, code] = <q_s, c_{s,code}> — |q| * ksub * d doubles,
    built once and broadcast via closure (queries are a fixed small
    set, same contract as q_knn_bruteforce)."""
    import numpy as np

    q_rows = (e.where(F.expr(_QUERY_FILTER))
              .select("vec_id", "v", "nrm").collect())
    q_ids = np.array([r.vec_id for r in q_rows])
    q_mat = np.stack([np.asarray(r.v) / r.nrm for r in q_rows])
    lut = np.einsum("qsd,skd->qsk",
                    q_mat.reshape(len(q_mat), _PQ_M, _DIM // _PQ_M), books)
    return q_ids, q_mat, lut


def _adc_scores(pdf, books, lut):
    """Asymmetric distance scores of one Arrow batch of (v) rows: the
    batch is PQ-encoded and scores[q, row] = sum_s LUT[q, s, code_s]
    ~= <q, v> is read from the query table — a (|q|, |batch|) matrix."""
    import numpy as np

    vm = np.stack(pdf["v"].to_numpy())
    vm = vm / np.linalg.norm(vm, axis=1, keepdims=True)
    codes = _pq_encode(vm, books)
    scores = np.zeros((len(lut), len(vm)))
    for s in range(_PQ_M):
        scores += lut[:, s, codes[:, s]]
    return scores


def _train_pq_codebooks(e: DataFrame, ksub: int):
    """Train _PQ_M per-subspace codebooks with driver traffic
    O(ksub * d) per round — the PQ analogue of _train_quantizer.

    Seed: the ksub deterministically-sampled rows (smallest
    md5(vec_id)) sliced into subvectors seed EVERY subspace — one
    distributed top-k, not m of them.

    Refine: _PQ_ROUNDS rounds of per-subspace Lloyd's. Each round is
    ONE linear mapInPandas pass that assigns every subvector in every
    subspace and emits per-task partial (subspace, code, sum, count)
    rows — m * ksub rows of d/m doubles per task — reduced to exactly
    m * ksub * d/m scalars by a groupBy before reaching the driver.
    Returns a (m, ksub, d/m) numpy array.
    """
    import numpy as np
    import pandas as pd

    dsub = _DIM // _PQ_M
    seed = (e.select("vec_id", "v", "nrm")
            .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
            .limit(ksub).collect())
    seed_mat = np.stack([np.asarray(r.v) / r.nrm for r in seed])
    # (m, ksub, dsub): subspace s seeded with the sample's slice s
    books = np.stack([seed_mat[:, s * dsub:(s + 1) * dsub]
                      for s in range(_PQ_M)])

    for _ in range(_PQ_ROUNDS):
        bk = books

        def partial_sums(batches, bk=bk):
            sums = np.zeros_like(bk)                      # (m, ksub, dsub)
            cnts = np.zeros((_PQ_M, bk.shape[1]), dtype="int64")
            for pdf in batches:
                if not len(pdf):
                    continue
                vm = np.stack(pdf["v"].to_numpy())
                vm = vm / np.linalg.norm(vm, axis=1, keepdims=True)
                codes = _pq_encode(vm, bk)
                for s in range(_PQ_M):
                    np.add.at(sums[s], codes[:, s],
                              vm[:, s * dsub:(s + 1) * dsub])
                    np.add.at(cnts[s], codes[:, s], 1)
            m_idx, k_idx = np.meshgrid(np.arange(_PQ_M),
                                       np.arange(bk.shape[1]), indexing="ij")
            yield pd.DataFrame({"sub": m_idx.ravel(), "code": k_idx.ravel(),
                                "s": list(sums.reshape(-1, dsub)),
                                "cnt": cnts.ravel()})

        rows = (
            e.mapInPandas(partial_sums,
                          schema="sub long, code long, s array<double>, cnt long")
            .select("sub", "code", "cnt", F.posexplode("s").alias("pos", "val"))
            .groupBy("sub", "code", "pos")
            .agg(F.sum("val").alias("sv"), F.sum("cnt").alias("cnt_d"))
            .collect())
        sums = np.zeros_like(books)
        cnts = np.zeros((_PQ_M, books.shape[1]))
        for r in rows:
            sums[r.sub, r.code, r.pos] = r.sv
            if r.pos == 0:
                cnts[r.sub, r.code] = r.cnt_d
        books = books.copy()
        for s in range(_PQ_M):
            ne = cnts[s] > 0
            books[s][ne] = sums[s][ne] / cnts[s][ne, None]
    return books


@register(
    "q_knn_pq_adc",
    oracle=None,  # recall-bounded; measured in tests/test_similarity.py
    tags=("similarity", "knn", "pq"),
)
def q_knn_pq_adc(spark: SparkSession, sf_dir: str,
                 refine: int = 10 * _K) -> DataFrame:
    """Approximate top-5 via product quantization with asymmetric
    distance computation (ADC) — the memory-bound ANN path.

    Build: the corpus is unit-normalized and split into 16 = _PQ_M
    subvectors; each subspace trains a ksub-entry codebook (Lloyd's,
    one linear scan per round, O(ksub*d) driver traffic — see
    _train_pq_codebooks). Every vector is encoded to m small codes:
    m bytes (ksub<=256) instead of 4*d float bytes — a 16x bandwidth
    reduction at d=64, m=16, which is the entire point at 100 TB: the scan
    that ranks candidates reads the code column only, never the
    embedding column (parquet column pruning does the rest).

    Search: each task holds the broadcast codebooks; for its Arrow
    batch of codes it builds per-query lookup tables LUT[s, code] =
    <q_s, c_{s,code}> (the "asymmetric" half: queries stay exact
    float) and scores a code row as sum_s LUT[s, code_s] ~= <q, v>.
    Each task emits only its own top-refine (10·k = 50) rows per query (partial
    top-k, the map-side combine of ANN), a global window keeps the
    overall top-refine, and an exact cosine rerank join (reading
    the true embeddings ONLY for |q|*refine candidate ids) produces
    the final top-5. Work: one code-only linear scan + a
    k*|q|-row shuffle + a point-lookup rerank join.
    """
    import numpy as np
    import pandas as pd

    e = _normed(load_table(spark, sf_dir, "embeddings")).persist()
    n = e.count()
    if n == 0:  # empty corpus: typed empty result, not a crash
        return spark.createDataFrame([], _KNN_SCHEMA)
    books = _train_pq_codebooks(e, _pq_ksub(n))   # (m, ksub, dsub)
    q_ids, _, lut = _pq_queries(e, books)

    def encode_and_scan(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            scores = _adc_scores(pdf, books, lut)
            r = min(refine, len(pdf))
            top = np.argpartition(-scores, r - 1, axis=1)[:, :r]
            ids = pdf["vec_id"].to_numpy()
            yield pd.DataFrame({
                "query_id": np.repeat(q_ids, r),
                "neighbor_id": ids[top].ravel(),
                "adc": np.take_along_axis(scores, top, axis=1).ravel()})

    cand = e.mapInPandas(
        encode_and_scan, schema="query_id long, neighbor_id long, adc double")
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), "neighbor_id")
    shortlist = (cand.where(F.col("query_id") != F.col("neighbor_id"))
                 .withColumn("r", F.row_number().over(w_adc))
                 .where(F.col("r") <= refine)
                 .select("query_id", "neighbor_id"))
    return _top_k(_rerank(shortlist, e))


@register(
    "q_embedding_covariance",
    oracle=f"""
    WITH x AS (
        SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
        FROM embeddings, UNNEST(range(1, {_DIM} + 1)) AS t(i))
    SELECT CAST(a.i AS INT) AS i, CAST(b.i AS INT) AS j,
           ROUND(covar_samp(a.v, b.v), 6) + 0.0 AS cov
    FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
    GROUP BY 1, 2
    """,
    tags=("embedding", "stats", "matrix"),
)
def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full 64×64 embedding covariance matrix (upper triangle) via
    per-partition outer-product partials — the whitening /
    anisotropy-diagnosis input every embedding pipeline wants.

    Scale shape: each partition reduces its rows to ONE d(d+1)/2-row
    partial (numpy ``Mᵀ M`` + column sums — O(d²) state regardless
    of partition size), the shuffle moves partials (not vectors),
    and the final agg applies the closed form
    ``(Σxy − ΣxΣy/n)/(n−1)``. The oracle computes the same matrix
    the quadratic way (position self-join + ``covar_samp``) — the
    point: Spark runs the O(n·d + P·d²) plan, the SQL spec is
    O(n·d²) through a join, and they agree to 6dp.
    """
    agg = _cov_moments(spark, sf_dir)
    cov = ((F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"))
           / (F.col("n") - 1))
    # + 0.0 collapses IEEE negative zero (repr-sorted compares)
    return agg.select("i", "j", (F.round(cov, 6) + F.lit(0.0)).alias("cov"))


def _cov_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle second-moment sums (i, j, sxy, sx, sy, n):
    one mapInPandas pass emitting a d(d+1)/2-row partial per
    partition, summed by (i, j). Shared by q_embedding_covariance
    and q_embedding_pca."""
    import numpy as np
    import pandas as pd

    emb = (load_table(spark, sf_dir, "embeddings")
           .where(F.col("embedding").isNotNull()
                  & (F.size("embedding") == _DIM))  # vstack hygiene
           .select("embedding"))
    iu, ju = np.triu_indices(_DIM)

    def partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            outer = m.T @ m
            col_sum = m.sum(axis=0)
            yield pd.DataFrame({
                "i": (iu + 1).astype("int32"), "j": (ju + 1).astype("int32"),
                "sxy": outer[iu, ju],
                "sx": col_sum[iu], "sy": col_sum[ju],
                "n": np.full(len(iu), len(m), dtype="int64")})

    parts = emb.mapInPandas(
        partials, "i int, j int, sxy double, sx double, sy double, n long")
    return parts.groupBy("i", "j").agg(
        F.sum("sxy").alias("sxy"), F.sum("sx").alias("sx"),
        F.sum("sy").alias("sy"), F.sum("n").alias("n"))


_PCA_TOP = 8


@register(
    "q_embedding_pca",
    oracle=None,  # eigensolve is not SQL-expressible; golden-tested
                  # against numpy over the full data (test_similarity)
    tags=("embedding", "stats", "matrix", "pca"),
)
def q_embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-8 PCA spectrum of the embedding cloud: eigenvalues of
    the covariance matrix with explained-variance ratios — the
    anisotropy report (a collapsed embedding space shows one
    dominant component; healthy spaces decay smoothly).

    Honest scale split: the covariance reduction is DISTRIBUTED
    (_cov_moments, O(d²) state per partition); the eigensolve runs
    driver-side on the collected d×d matrix — O(d²) driver rows and
    an O(d³) LAPACK call on a 64×64 symmetric matrix, which is the
    right side of the boundary at ANY corpus size (the matrix never
    grows with n). Returning a distributed frame of the spectrum
    keeps the driver contract uniform.
    """
    import numpy as np

    rows = _cov_moments(spark, sf_dir).collect()  # d(d+1)/2 rows, O(d^2)
    cov = np.zeros((_DIM, _DIM))
    for r in rows:
        c = (r["sxy"] - r["sx"] * r["sy"] / r["n"]) / (r["n"] - 1)
        cov[r["i"] - 1, r["j"] - 1] = c
        cov[r["j"] - 1, r["i"] - 1] = c
    evals = np.linalg.eigvalsh(cov)[::-1]  # descending
    total = float(evals.sum())
    out = [(k + 1, float(evals[k]), float(evals[k] / total),
            float(evals[: k + 1].sum() / total))
           for k in range(_PCA_TOP)]
    return spark.createDataFrame(
        out, "rank int, eigenvalue double, explained double, "
             "cum_explained double"
    ).select("rank", F.round("eigenvalue", 6).alias("eigenvalue"),
             F.round("explained", 6).alias("explained"),
             F.round("cum_explained", 6).alias("cum_explained"))


@register_audit_plan(
    "q_embedding_pca",
    note="the distributed covariance-moment reduction (_cov_moments, "
         "shared with the query — no drift) — the only corpus-scale "
         "plan in the query; the eigensolve consumes its O(d^2)-row "
         "output driver-side by design (64x64 LAPACK, size-independent "
         "of the corpus).")
def _q_embedding_pca_moments(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    return _cov_moments(spark, sf_dir)


_JL_K = 8  # JL target dimensionality (64 -> 8)


def _jl_signs() -> list[list[int]]:
    """Deterministic +/-1 sign matrix for the JL projection, derived
    from md5 parity so it is a fixed literal shared by both engines
    (Achlioptas 2003: a Rademacher sign matrix satisfies the JL
    lemma — no Gaussian sampling needed)."""
    import hashlib

    return [[1 if hashlib.md5(f"jl|{i}|{j}".encode()).digest()[0] % 2
             else -1 for i in range(_DIM)] for j in range(_JL_K)]


def _jl_oracle() -> str:
    signs = _jl_signs()
    projs = []
    for j, row in enumerate(signs):
        chain = " + ".join(
            f"v[{i + 1}] * ({s}.0)" for i, s in enumerate(row))
        projs.append(f"({chain}) AS p{j}")
    num = " + ".join(f"p{j} * p{j}" for j in range(_JL_K))
    den = " + ".join(f"v[{i + 1}] * v[{i + 1}]" for i in range(_DIM))
    return f"""
    WITH e AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings WHERE len(embedding) = {_DIM}),
    p AS (
        SELECT vec_id, label, {", ".join(projs)},
               ({den}) AS nrm2
        FROM e)
    SELECT vec_id, label,
           ROUND(({_DIM}.0 / {_JL_K}) * ({num}) / nrm2, 6)
               AS norm_ratio
    FROM p WHERE nrm2 > 0
    """


@register(
    "q_jl_projection",
    oracle=_jl_oracle(),
    tags=("embedding", "dimensionality", "jl", "similarity"),
)
def q_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random-sign projection 64 -> 8 dims
    with the per-vector norm-distortion report: norm_ratio =
    (d/k) * ||Pv||^2 / ||v||^2, whose concentration around 1.0 IS
    the JL guarantee (Achlioptas 2003 shows Rademacher +/-1 entries
    suffice — no Gaussians). The 8x compression path BEFORE the
    trained reductions (q_embedding_pca needs a covariance pass and
    an eigensolve; JL needs nothing but a seed), used to cheapen
    LSH/clustering distance work while provably preserving
    geometry. The sign matrix is a FIXED md5-derived literal
    (_jl_signs) compiled into both engines' expressions, and every
    dot product / norm is an explicit left-to-right chain in the
    SAME term order, so the doubles are bit-identical cross-engine
    (the q_ewma_events fixed-order contract).

    Scale shape: ZERO shuffle — k fixed-order dot products per row
    against a broadcast-free literal matrix, pure map-side
    expression work inside whole-stage codegen; output is one row
    per vector. At 100 TB this is the cheapest of the embedding
    operators — the matrix never moves because it lives in the
    plan. Reference parity: none; north-star §2D embedding depth
    next to q_embedding_pca (trained twin) and
    q_embedding_quantize (precision twin).
    """
    signs = _jl_signs()
    emb = load_table(spark, sf_dir, "embeddings")
    e = (emb.where(F.size("embedding") == _DIM)
         .select("vec_id", "label", _as_double("embedding").alias("v")))

    def chain(terms: list[Column]) -> Column:
        acc = terms[0]
        for t in terms[1:]:
            acc = acc + t
        return acc

    # try_element_at, not element_at: Catalyst merges the width
    # filter with the downstream nrm2 > 0 filter and subexpression
    # elimination evaluates the chain before the width conjunct can
    # short-circuit — on a dirty (empty-array) row plain element_at
    # throws inside the fused predicate. NULL-safe access keeps the
    # valid-row arithmetic bit-identical and lets nrm2 > 0 drop the
    # NULLs. (Caught by tests/test_dirty_input.py.)
    def el(i: int) -> Column:
        return F.try_element_at("v", F.lit(i))

    projs = [chain([el(i + 1) * float(s)
                    for i, s in enumerate(row)]).alias(f"p{j}")
             for j, row in enumerate(signs)]
    den = chain([el(i + 1) * el(i + 1)
                 for i in range(_DIM)]).alias("nrm2")
    p = e.select("vec_id", "label", *projs, den)
    num = chain([F.col(f"p{j}") * F.col(f"p{j}") for j in range(_JL_K)])
    return (p.where(F.col("nrm2") > 0)
            .select("vec_id", "label",
                    F.round((float(_DIM) / _JL_K) * num / F.col("nrm2"),
                            6).alias("norm_ratio")))


@register(
    "q_mutual_best_match",
    oracle="""
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
    a AS (SELECT vec_id AS a_id, v FROM e WHERE vec_id % 2 = 0),
    b AS (SELECT vec_id AS b_id, v FROM e WHERE vec_id % 2 = 1),
    j AS (
        SELECT a_id, b_id,
               ROUND(list_dot_product(a.v, b.v)
                     / (sqrt(list_dot_product(a.v, a.v))
                        * sqrt(list_dot_product(b.v, b.v))), 6) AS c
        FROM a CROSS JOIN b),
    ab AS (
        SELECT a_id, b_id, c FROM (
            SELECT a_id, b_id, c,
                   ROW_NUMBER() OVER (PARTITION BY a_id
                                      ORDER BY c DESC, b_id) AS rn
            FROM j) WHERE rn = 1),
    ba AS (
        SELECT a_id, b_id, c FROM (
            SELECT a_id, b_id, c,
                   ROW_NUMBER() OVER (PARTITION BY b_id
                                      ORDER BY c DESC, a_id) AS rn
            FROM j) WHERE rn = 1)
    SELECT ab.a_id, ab.b_id, ab.c AS cosine
    FROM ab JOIN ba ON ab.a_id = ba.a_id AND ab.b_id = ba.b_id
    """,
    tags=("similarity", "embedding", "mutual-knn", "alignment"),
)
def q_mutual_best_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual best-match pairs between the even- and odd-id halves
    of the embedding table: (a, b) survives iff b is a's single
    best cosine match AND a is b's — the reciprocal-nearest-
    neighbor criterion used for parallel-corpus / bitext mining and
    cross-snapshot entity alignment, where one-directional best
    matches are noisy but mutual ones are high-precision.

    Determinism: cosines round to 6dp BEFORE every argmax (the
    q_lang_id_trigram idiom), ties break on the smallest partner
    id. Implementation is the tiled vectorized pattern of
    q_dedup_embedding_cosine: each (A-tile, B-tile) pair is one
    task scoring the whole block with a numpy matmul, and — the
    q_knn_pq_adc partial-top-k idiom — each task emits only its
    PER-ROW partial best in BOTH directions (≤ |tile| rows out,
    never the block), so the global per-side argmax is a plain
    hash aggregate (max(struct(cos, -partner)), map-side partials)
    over O(n · √tiles) partial rows. The mutual join then moves two
    best-per-key relations (≤ |A| + |B| rows). The per-pair-HOF
    crossJoin formulation measured 19 s at sf0.1 vs ~4 s for this
    plan and is kept in git history. Exact A×B is inherently O(n²)
    work — at 100 TB the IVF/LSH funnels generate candidate pairs
    and the argmax+reciprocal join shape runs unchanged on their
    output.
    """
    import numpy as np
    import pandas as pd

    from my_mapreduce_spark.queries.dedup import _n_tiles

    e = (load_table(spark, sf_dir, "embeddings")
         .where(F.col("embedding").isNotNull()
                & (F.size("embedding") > 0))  # np.stack hygiene
         .select("vec_id", _as_double("embedding").alias("v")))
    n_tiles = _n_tiles(e.count())
    a = (e.where(F.col("vec_id") % 2 == 0)
         .select(F.lit("L").alias("side"), F.col("vec_id"), "v",
                 (F.floor(F.col("vec_id") / 2) % n_tiles).cast("int")
                 .alias("blk")))
    b = (e.where(F.col("vec_id") % 2 == 1)
         .select(F.lit("R").alias("side"), F.col("vec_id"), "v",
                 (F.floor(F.col("vec_id") / 2) % n_tiles).cast("int")
                 .alias("blk")))
    tile_pairs = spark.createDataFrame(
        [(i, j) for i in range(n_tiles) for j in range(n_tiles)],
        "ba int, bb int")
    left = (a.join(F.broadcast(tile_pairs), F.col("blk") == F.col("ba"))
            .select("ba", "bb", "side", "vec_id", "v"))
    right = (b.join(F.broadcast(tile_pairs), F.col("blk") == F.col("bb"))
             .select("ba", "bb", "side", "vec_id", "v"))

    def best_in_block(pdf: pd.DataFrame) -> pd.DataFrame:
        lmask = pdf["side"] == "L"
        lp, rp = pdf.loc[lmask], pdf.loc[~lmask]
        if len(lp) == 0 or len(rp) == 0:
            return pd.DataFrame({"dir": [], "key": [], "partner": [],
                                 "c": []})
        # ids ascending so np.argmax's first-max rule IS the
        # smallest-partner tie-break
        lp = lp.sort_values("vec_id")
        rp = rp.sort_values("vec_id")
        lids = lp["vec_id"].to_numpy()
        rids = rp["vec_id"].to_numpy()
        vl = np.stack(lp["v"].to_numpy())
        vr = np.stack(rp["v"].to_numpy())
        vl = vl / np.linalg.norm(vl, axis=1, keepdims=True)
        vr = vr / np.linalg.norm(vr, axis=1, keepdims=True)
        cos = np.round(vl @ vr.T, 6)
        ja = cos.argmax(axis=1)        # per-A best B in this block
        jb = cos.argmax(axis=0)        # per-B best A in this block
        return pd.DataFrame({
            "dir": ["A"] * len(lids) + ["B"] * len(rids),
            "key": np.concatenate([lids, rids]),
            "partner": np.concatenate([rids[ja], lids[jb]]),
            "c": np.concatenate([cos[np.arange(len(lids)), ja],
                                 cos[jb, np.arange(len(rids))]])})

    partials = (left.unionAll(right)
                .groupBy("ba", "bb")
                .applyInPandas(best_in_block,
                               "dir string, key long, partner long, c double"))
    # persisted (caller-released): both direction filters read the
    # same |A|+|B|-row argmax result, not a recomputed score pass
    best = (partials.groupBy("dir", "key")
            .agg(F.max(F.struct(F.col("c"),
                                (-F.col("partner")).alias("np"))).alias("m"))
            .select("dir", "key",
                    (-F.col("m.np")).cast("bigint").alias("partner"),
                    F.col("m.c").alias("c"))
            .persist())
    ab = (best.where(F.col("dir") == "A")
          .select(F.col("key").alias("a_id"),
                  F.col("partner").alias("b_id"), "c"))
    ba = (best.where(F.col("dir") == "B")
          .select(F.col("partner").alias("a_id"),
                  F.col("key").alias("b_id")))
    return (ab.join(ba, ["a_id", "b_id"])
            .select("a_id", "b_id", F.col("c").alias("cosine")))


_DRIFT_SCALE = 1000  # coordinate milli-units: exact bigint sums


@register(
    "q_centroid_drift",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, label, embedding, vec_id % 2 AS half
        FROM embeddings
        WHERE embedding IS NOT NULL AND len(embedding) > 0),
    x AS (
        SELECT label, half, pos,
               CAST(FLOOR(CAST(embedding[pos] AS DOUBLE) * {_DRIFT_SCALE})
                    AS BIGINT) AS xi
        FROM e, UNNEST(range(1, len(embedding) + 1)) AS t(pos)),
    s AS (
        SELECT label, half, pos, CAST(SUM(xi) AS BIGINT) AS s
        FROM x GROUP BY 1, 2, 3),
    n AS (SELECT label, half, CAST(COUNT(*) AS BIGINT) AS n
          FROM e GROUP BY 1, 2),
    d AS (
        SELECT a.label, a.pos,
               na.n AS n0, nb.n AS n1,
               (a.s * nb.n - b.s * na.n)
                   * (a.s * nb.n - b.s * na.n) AS num
        FROM s a JOIN s b ON a.label = b.label AND a.pos = b.pos
                         AND a.half = 0 AND b.half = 1
             JOIN n na ON na.label = a.label AND na.half = 0
             JOIN n nb ON nb.label = a.label AND nb.half = 1)
    SELECT label, n0 AS n_a, n1 AS n_b,
           ROUND(SQRT(SUM(num)) / (n0 * n1 * {_DRIFT_SCALE} * 1.0), 6)
               AS centroid_l2_drift
    FROM d GROUP BY label, n0, n1
    """,
    tags=("embedding", "drift", "centroid", "monitoring"),
)
def q_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid drift between two deterministic halves of
    the embedding table (vec_id parity standing in for the
    before/after snapshots of a re-embedding run): the L2 distance
    between each label's half-A and half-B centroids — the
    embedding-space drift monitor that catches a model or pipeline
    change shifting a class's representation before any downstream
    retrieval metric degrades (the embedding analogue of
    q_psi_drift's histogram monitoring).

    Exactness: the q_label_noise_screen integer-centroid algebra,
    pairwise — with per-(label,half,dim) exact sums s and counts n,
    the squared drift scales to sum_dims (s0*n1 - s1*n0)^2, an
    exact bigint; one sqrt and one division at display. No float
    accumulates anywhere.

    Plan: one posexplode -> (label, half, dim) hash-agg (d-bounded
    shuffle), a (label, dim)-keyed self-join of that tiny relation
    (broadcast), one per-label finishing agg. Corpus-linear single
    pass at 100 TB.
    """
    emb = (load_table(spark, sf_dir, "embeddings")
           .where(F.col("embedding").isNotNull()
                  & (F.size("embedding") > 0))
           .select("label", (F.col("vec_id") % 2).alias("half"),
                   "embedding"))
    x = (emb.select("label", "half",
                    F.posexplode("embedding").alias("pos0", "xf"))
         .select("label", "half", (F.col("pos0") + 1).alias("pos"),
                 F.floor(F.col("xf").cast("double") * _DRIFT_SCALE)
                 .alias("xi")))
    s = x.groupBy("label", "half", "pos").agg(F.sum("xi").alias("s"))
    n = emb.groupBy("label", "half").agg(F.count(F.lit(1)).alias("n"))
    a = s.where(F.col("half") == 0).select("label", "pos",
                                           F.col("s").alias("s0"))
    b = s.where(F.col("half") == 1).select("label", "pos",
                                           F.col("s").alias("s1"))
    na = n.where(F.col("half") == 0).select("label", F.col("n").alias("n0"))
    nb = n.where(F.col("half") == 1).select("label", F.col("n").alias("n1"))
    num = ((F.col("s0") * F.col("n1") - F.col("s1") * F.col("n0"))
           * (F.col("s0") * F.col("n1") - F.col("s1") * F.col("n0")))
    d = (a.join(b, ["label", "pos"])
         .join(F.broadcast(na), "label").join(F.broadcast(nb), "label")
         .select("label", "n0", "n1", num.alias("num")))
    return (d.groupBy("label", F.col("n0").alias("n_a"),
                      F.col("n1").alias("n_b"))
            .agg(F.round(F.sqrt(F.sum("num"))
                         / (F.col("n_a") * F.col("n_b")
                            * float(_DRIFT_SCALE)), 6)
                 .alias("centroid_l2_drift")))


_RP_TREES = 6          # forest width: independent trees, recall compounds
_RP_TARGET_LEAF = 250  # depth schedule target: |leaf| ~= this, any n


def _rp_depth(n: int) -> int:
    """Depth schedule (round-8 verdict #2): depth grows with the
    corpus so |leaf| stays ~_RP_TARGET_LEAF and per-query candidate
    volume is trees * target_leaf — CONSTANT in n — instead of the
    fixed-depth trees * n/2^depth, which made candidate mass a fixed
    fraction of the corpus (decade ratio 3.9x). The target is chosen
    so the sf0.1 fixture (n=2000) resolves to depth 3 — the measured
    recall-0.80 operating point — while smaller corpora get SHALLOWER
    trees (more candidate mass, recall can only rise) and larger
    corpora deepen one level per doubling."""
    import math

    return max(1, math.ceil(math.log2(max(2.0, n / _RP_TARGET_LEAF))))


def _rp_weights(depth: int):
    """(trees*depth) x dim projection matrix, md5-derived like
    _plane_weights — deterministic, reproducible anywhere. Level l of
    tree t uses plane t*depth+l — so for a FIXED depth the forest is
    fully determined by (trees, depth), but across corpora of
    different sizes (different scheduled depths) only tree 0's
    shallow levels reuse the same hyperplanes: for t>=1 the flat
    index shifts with depth (tree 1 uses planes 3,4,5 at depth 3 but
    4,5,6 at depth 4). Cross-depth sharing is NOT a property the
    recall floors rely on; determinism per (trees, depth) is."""
    import hashlib

    import numpy as np

    return np.array([
        [int(hashlib.md5(f"rp{p}_{d}".encode()).hexdigest()[:8], 16)
         / 2**32 - 0.5 for d in range(_DIM)]
        for p in range(_RP_TREES * depth)], dtype="float64")


def _with_rp_projections(df: DataFrame, depth: int) -> DataFrame:
    """Append a pj array column (length trees*depth) of projections
    onto the forest's hyperplanes. One vectorized Arrow pass — the
    same rationale as _with_sketch: a 12x64-literal Catalyst
    expression tree spends more on analysis than the projection."""
    import numpy as np
    import pandas as pd

    wt = _rp_weights(depth).T  # dim x (trees*depth)

    def add_proj(it):
        for pdf in it:
            if not len(pdf):
                continue
            pj = np.stack(pdf["v"].to_numpy()) @ wt
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "v": pdf["v"],
                                "nrm": pdf["nrm"],
                                "pj": list(pj)})

    return df.mapInPandas(
        add_proj, schema="vec_id long, v array<double>, nrm double, "
                         "pj array<double>")


@register(
    "q_knn_rp_forest",
    oracle=None,  # recall-bounded vs q_knn_bruteforce, not
                  # equality-bounded; floor in tests/test_similarity.py
                  # and tools/recall_report.py
    tags=("similarity", "knn", "rp-forest", "ann"),
)
def q_knn_rp_forest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via a MEDIAN-SPLIT random-projection forest — the
    tree-based ANN family (Annoy/RP-tree lineage) beside the
    data-independent LSH sketches (q_knn_lsh_buckets), the trained
    coarse quantizer (q_knn_ivf), and the code-compressed scan
    (q_knn_pq_adc). Six trees, depth SCHEDULED from the corpus count
    (_rp_depth: one level per doubling past ~250-row leaves): at
    every level each current node splits at the EXACT MEDIAN of its
    members' projection onto an md5-derived hyperplane, so leaves
    are balanced BY CONSTRUCTION — |leaf| = n/2^depth ≈ 250
    whatever the data distribution OR SIZE. That is the property
    the other families lack: LSH buckets skew with density (a hot
    bucket re-creates the quadratic blowup locally) while median
    splits cannot, which makes the candidate volume per query a
    guarantee (trees * target_leaf, CONSTANT in n — the depth
    schedule closed the round-8 fixed-depth caveat where candidate
    mass was a fixed ~75% fraction of the corpus and the decade
    ratio tracked data growth at 3.9x).

    Engine shape: one count (the only extra action the schedule
    costs), one Arrow pass appending all trees*depth projections
    (numpy matmul, no shuffle — the q_knn_lsh_buckets literal-plan
    lesson); then per LEVEL one exact-percentile aggregate over
    (tree, node) groups (≤ trees*2^level rows out —
    conf-independent, broadcast back) refines node ids; each level
    is localCheckpoint'ed so the median branch and the assignment
    branch share one materialization and the level-l plan never
    re-nests levels 0..l-1 (the lineage-blowup contract from
    SCALE.md). Query vectors are forest members: candidates =
    same-leaf co-members in ANY tree (bounded by trees *
    target_leaf per query), deduped on pair ids BEFORE vectors
    re-join, exact cosine re-rank, per-query top-k window.

    Honest operating point: the fixture embeddings are near-uniform
    in 64-d — the worst case for every space-partitioning ANN (the
    q_knn_ivf caveat). The target leaf is sized so sf0.1 (n=2000)
    resolves to depth 3, the measured recall-0.80 point; smaller
    fixtures resolve SHALLOWER (depth 1 at n=500 — candidate mass
    rises, so recall can only exceed the fixed-depth 0.84), keeping
    the 0.75 floor at every SF by construction (recall_report.py).
    On clustered production embeddings the same forest prunes far
    harder; what this family UNIQUELY guarantees is the leaf-balance
    bound.

    At 100 TB: tree fitting is depth * one combiner-reduced
    aggregate per level (the percentile state is per-(tree,node),
    never data-sized, and depth grows only logarithmically);
    assignment is a broadcast join; candidate generation is an
    equi-join on (tree, leaf) — every stage shuffles O(n * trees)
    narrow rows, re-rank work is O(queries * trees * target_leaf),
    and leaf balance holds under any skew. Production forests
    persist the fitted medians (O(trees * 2^depth) scalars) as the
    "index" and assign new vectors with pure expressions.
    """
    base = _normed(load_table(spark, sf_dir, "embeddings"))
    depth = _rp_depth(base.count())
    pts = _with_rp_projections(base, depth)
    pts = pts.withColumn(
        "tree", F.explode(F.array(*[F.lit(t) for t in range(_RP_TREES)]))
    ).withColumn("node", F.lit(0))
    for lvl in range(depth):
        prj = F.element_at(
            "pj", (F.col("tree") * depth + lvl + 1).cast("int"))
        pts = pts.withColumn("prj", prj)
        meds = (pts.groupBy("tree", "node")
                .agg(F.expr("percentile(prj, 0.5)").alias("med")))
        pts = (pts.join(F.broadcast(meds), ["tree", "node"])
               .withColumn("node", F.col("node") * 2
                           + (F.col("prj") > F.col("med")).cast("int"))
               .drop("prj", "med")
               .localCheckpoint(eager=True))
    leaves = pts.select("tree", "node", "vec_id", "v", "nrm")
    q = (leaves.where(F.expr(_QUERY_FILTER))
         .select("tree", "node", F.col("vec_id").alias("query_id")))
    cand = (q.join(leaves.select("tree", "node",
                                 F.col("vec_id").alias("neighbor_id")),
                   ["tree", "node"])
            .where(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id").distinct())
    # re-rank vector lookups: the QUERY side is the parameter-bounded
    # query set (broadcast, the family's whitelisted shape); the
    # NEIGHBOR side is the CORPUS-sized vector relation, whose array
    # column lies to AQE about its in-memory size — the merge hint
    # pins sort-merge so AQE's runtime shuffle-to-broadcast (caught
    # by the executed plan-audit pass) cannot rebuild the 30x-tier
    # OOM. Vectors re-derive from the normed scan (cheaper than a
    # distinct over the trees-exploded, checkpointed leaves).
    qvec = F.broadcast(_query_side(base.where(F.expr(_QUERY_FILTER))))
    return _top_k(
        cand
        .join(qvec, "query_id")
        .join(base.select(F.col("vec_id").alias("neighbor_id"),
                          "v", "nrm").hint("merge"), "neighbor_id")
        .select("query_id", "neighbor_id", _cos_raw().alias("cos_raw")))


_KM_K = 4        # clusters
_KM_ITERS = 2    # Lloyd iterations (fixed budget => SQL-reproducible)


def _km_assign_sql(vec: str, cent_cte: str) -> str:
    """Assignment CTE body: nearest of the k centroids by squared
    L2, sequential-fold distance (list_sum is a left fold in both
    engines, so the bits match Spark's aggregate())."""
    return f"""
        SELECT v.vec_id, v.v, c.cluster,
               ROW_NUMBER() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY list_sum(list_transform(
                       list_zip(v.v, c.cv),
                       x -> (x[1] - x[2]) * (x[1] - x[2]))), c.cluster)
                   AS rk
        FROM {vec} v CROSS JOIN {cent_cte} c"""


@register(
    "q_kmeans_lloyd",
    oracle=f"""
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
        WHERE embedding IS NOT NULL AND len(embedding) = {_DIM}),
    c0 AS (  -- deterministic seeds: the k smallest vec_ids
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster,
               v AS cv
        FROM e ORDER BY vec_id LIMIT {_KM_K}),
    a1 AS ({_km_assign_sql('e', 'c0')}),
    m1 AS (  -- decimal-folded per-(cluster, dim) means
        SELECT cluster, u.i AS pos,
               CAST(SUM(CAST(ROUND(v[u.i], 9) AS DECIMAL(38,9)))
                    AS DOUBLE) / COUNT(*) AS cm
        FROM a1, UNNEST(range(1, {_DIM} + 1)) AS u(i)
        WHERE rk = 1 GROUP BY cluster, u.i),
    c1 AS (
        SELECT cluster, list(cm ORDER BY pos) AS cv
        FROM m1 GROUP BY cluster),
    a2 AS ({_km_assign_sql('e', 'c1')}),
    d2 AS (
        SELECT a.vec_id, a.cluster,
               list_sum(list_transform(
                   list_zip(a.v, c.cv),
                   x -> (x[1] - x[2]) * (x[1] - x[2]))) AS d
        FROM a2 a JOIN c1 c ON a.cluster = c.cluster
        WHERE a.rk = 1)
    SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_vectors,
           ROUND(CAST(SUM(CAST(ROUND(d, 9) AS DECIMAL(38,9)))
                      AS DOUBLE), 6) AS inertia
    FROM d2 GROUP BY cluster
    """,
    tags=("similarity", "kmeans", "clustering", "iterative"),
)
def q_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (k=4, 2 fixed iterations) over the embedding
    corpus with a FULL equality oracle — distributed clustering
    where every float step is engine-reproducible: distances are
    SEQUENTIAL left folds (Spark ``aggregate`` and DuckDB
    ``list_sum`` both fold left-to-right over identical doubles, so
    even the argmin tie-break order matches bit-for-bit), and every
    cross-ROW fold (centroid means, inertia) is rounded per term
    and summed as DECIMAL — the q_anova_oneway discipline applied
    to an iterative ML algorithm. Seeds are the k smallest vec_ids
    (deterministic, sf-independent).

    Engine shape per iteration: assignment = one corpus scan
    against k BROADCAST centroids (k struct rows — the correct
    broadcast), update = posexplode to (cluster, dim) partial sums
    (combiner-reduced, k*dim rows out) re-assembled into ordered
    centroid arrays. Iteration count is fixed, so at 100 TB the
    cost is exactly 2 corpus scans + 2 k*dim-bounded shuffles; the
    O(k*dim) centroid relation is the only state that moves between
    them (the same coefficients-broadcast template as
    q_logreg_irls). Reference parity: none — north-star §2D
    ML-training depth; q_knn_ivf's trained coarse quantizer is this
    op's rows-only production sibling.
    """
    e = (load_table(spark, sf_dir, "embeddings")
         .where(F.col("embedding").isNotNull()
                & (F.size("embedding") == _DIM))
         .select("vec_id", _as_double("embedding").alias("v")))

    def lloyd_assign(vecs: DataFrame, cents: DataFrame) -> DataFrame:
        d = F.aggregate(
            F.zip_with(F.col("v"), F.col("cv"),
                       lambda x, y: (x - y) * (x - y)),
            F.lit(0.0), lambda acc, x: acc + x)
        w = Window.partitionBy("vec_id").orderBy("d", "cluster")
        return (vecs.crossJoin(F.broadcast(cents))
                .withColumn("d", d)
                .withColumn("rk", F.row_number().over(w))
                .where(F.col("rk") == 1)
                .select("vec_id", "v", "cluster", "d"))

    c0 = (e.orderBy("vec_id").limit(_KM_K)
          .select((F.row_number().over(Window.orderBy("vec_id")) - 1)
                  .alias("cluster"), F.col("v").alias("cv")))
    cents = c0
    a = None
    for _ in range(_KM_ITERS):
        a = lloyd_assign(e, cents)
        m = (a.select("cluster", F.posexplode("v").alias("pos", "x"))
             .groupBy("cluster", "pos")
             .agg((F.sum(F.round(F.col("x"), 9).cast("decimal(38,9)"))
                   .cast("double") / F.count(F.lit(1))).alias("cm")))
        cents = (m.groupBy("cluster")
                 .agg(F.array_sort(
                     F.collect_list(F.struct("pos", "cm"))).alias("s"))
                 .select("cluster", F.col("s.cm").alias("cv")))
    # final inertia uses the LAST assignment against ITS centroids
    # (the oracle's d2 shape: assignment a2 scored on c1)
    return (a.groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("n_vectors"),
                 F.round(F.sum(F.round(F.col("d"), 9)
                               .cast("decimal(38,9)")).cast("double"), 6)
                 .alias("inertia")))


_PI_V0 = 0.125   # 1/sqrt(64): the deterministic unit start vector


def _pi_wsum(scored: DataFrame) -> DataFrame:
    """(dim, w) rows of w = A'(A v) from per-row scores: posexplode
    to per-(row, dim) terms, decimal-fold the cross-row sum."""
    return (scored
            .select(F.col("s"), F.posexplode("v").alias("pos", "x"))
            .select((F.col("pos") + 1).alias("dim"),
                    F.round(F.col("s") * F.col("x"), 12)
                    .cast("decimal(38,12)").alias("t"))
            .groupBy("dim")
            .agg(F.sum("t").cast("double").alias("w")))


def _pi_norm(w: DataFrame) -> DataFrame:
    """1-row ||w||_2 via the same decimal-fold discipline."""
    return w.agg(F.sqrt(
        F.sum(F.round(F.col("w") * F.col("w"), 12)
              .cast("decimal(38,12)")).cast("double")).alias("lam"))


@register(
    "q_power_iteration_pc1",
    oracle=f"""
    WITH e AS (
        SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
        WHERE embedding IS NOT NULL AND len(embedding) = {_DIM}),
    s1 AS (  -- x . v0 with v0 = 1/8 everywhere: fold first, scale once
        SELECT v, list_sum(v) * {_PI_V0} AS s FROM e),
    w1 AS (
        SELECT u.i AS dim,
               CAST(SUM(CAST(ROUND(s * v[u.i], 12) AS DECIMAL(38,12)))
                    AS DOUBLE) AS w
        FROM s1, UNNEST(range(1, {_DIM} + 1)) AS u(i)
        GROUP BY u.i),
    n1 AS (
        SELECT sqrt(CAST(SUM(CAST(ROUND(w * w, 12) AS DECIMAL(38,12)))
                         AS DOUBLE)) AS lam
        FROM w1),
    v1 AS (
        SELECT list(w / n1.lam ORDER BY dim) AS arr
        FROM w1 CROSS JOIN n1 GROUP BY n1.lam),
    s2 AS (
        SELECT e.v,
               list_sum(list_transform(list_zip(e.v, v1.arr),
                                       x -> x[1] * x[2])) AS s
        FROM e CROSS JOIN v1),
    w2 AS (
        SELECT u.i AS dim,
               CAST(SUM(CAST(ROUND(s * v[u.i], 12) AS DECIMAL(38,12)))
                    AS DOUBLE) AS w
        FROM s2, UNNEST(range(1, {_DIM} + 1)) AS u(i)
        GROUP BY u.i),
    n2 AS (
        SELECT sqrt(CAST(SUM(CAST(ROUND(w * w, 12) AS DECIMAL(38,12)))
                         AS DOUBLE)) AS lam
        FROM w2)
    SELECT dim, ROUND(w / n2.lam, 6) AS pc1,
           ROUND(n2.lam, 4) AS eig1
    FROM w2 CROSS JOIN n2
    """,
    tags=("embedding", "matrix", "pca", "power-iteration", "iterative"),
)
def q_power_iteration_pc1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading (uncentered) principal direction of the embedding
    matrix by TWO power iterations — numerical linear algebra as
    aggregation, with a FULL equality oracle (q_embedding_pca's
    exact eigensolve stays rows-only; this fixed-budget iteration
    is SQL-reproducible, the same trick as q_pagerank). One
    iteration of v <- normalize(A'(A v)) is: per-row score
    s_i = x_i . v (a SEQUENTIAL left fold — bit-identical in both
    engines), per-dim fold w_d = sum_i s_i x_id (rounded-then-
    decimal-summed, order-free), and a 64-row norm under the same
    discipline. The start vector 1/sqrt(64) = 0.125 is exactly
    representable, and its dot products are computed fold-first
    (list_sum(v) * 0.125) so both engines share the op order; the
    fixed start also pins the eigenvector's sign.

    Scale shape (100 TB): each iteration is ONE corpus scan
    (scores + scaled contributions in the same pass) into a
    dim-bounded (64-row) aggregate; the O(dim) direction vector is
    the only state between iterations — the coefficients-broadcast
    template (q_logreg_irls, q_kmeans_lloyd) applied to an
    eigenproblem. This is how production computes top components
    of corpus-scale Gram matrices without ever materializing one.
    Reference parity: none — north-star §2D matrix depth.
    """
    e = (load_table(spark, sf_dir, "embeddings")
         .where(F.col("embedding").isNotNull()
                & (F.size("embedding") == _DIM))
         .select(_as_double("embedding").alias("v")))
    fold = F.aggregate(F.col("v"), F.lit(0.0), lambda a, x: a + x)
    s1 = e.select("v", (fold * _PI_V0).alias("s"))
    w1 = _pi_wsum(s1)
    v1 = (w1.crossJoin(F.broadcast(_pi_norm(w1)))
          .groupBy(F.col("lam"))
          .agg(F.array_sort(
              F.collect_list(F.struct("dim", (F.col("w") / F.col("lam"))
                                      .alias("c")))).alias("sa"))
          .select(F.col("sa.c").alias("arr")))
    dot2 = F.aggregate(F.zip_with(F.col("v"), F.col("arr"),
                                  lambda a, b: a * b),
                       F.lit(0.0), lambda a, x: a + x)
    s2 = e.crossJoin(F.broadcast(v1)).select("v", dot2.alias("s"))
    w2 = _pi_wsum(s2)
    return (w2.crossJoin(F.broadcast(_pi_norm(w2)))
            .select("dim", F.round(F.col("w") / F.col("lam"), 6)
                    .alias("pc1"),
                    F.round(F.col("lam"), 4).alias("eig1")))


@register(
    "q_knn_classifier",
    oracle=f"""
    WITH e AS (SELECT vec_id, label,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings
               WHERE embedding IS NOT NULL AND len(embedding) = {_DIM}),
    n AS (SELECT vec_id, label, v,
                 sqrt(list_dot_product(v, v)) AS nrm FROM e),
    q AS (SELECT * FROM n WHERE {_QUERY_FILTER}),
    scored AS (
        SELECT q.vec_id AS query_id, q.label AS true_label,
               c.label AS nbr_label,
               list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cos_raw,
               c.vec_id AS neighbor_id
        FROM q JOIN n c ON q.vec_id <> c.vec_id),
    topk AS (
        SELECT query_id, true_label, nbr_label
        FROM (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY query_id
                  ORDER BY cos_raw DESC, neighbor_id) AS rnk
              FROM scored)
        WHERE rnk <= {_K}),
    votes AS (
        SELECT query_id, true_label, nbr_label,
               CAST(COUNT(*) AS BIGINT) AS n_votes
        FROM topk GROUP BY 1, 2, 3)
    SELECT query_id, true_label,
           nbr_label AS predicted_label, n_votes,
           CAST(nbr_label = true_label AS INT) AS correct
    FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY query_id
              ORDER BY n_votes DESC, nbr_label) AS vr
          FROM votes)
    WHERE vr = 1
    """,
    tags=("similarity", "knn", "classifier", "ml-eval"),
)
def q_knn_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN CLASSIFICATION — the supervised consumer of the ANN
    family: each query vector takes the MAJORITY LABEL of its exact
    cosine top-5 (tie-break: more votes, then smaller label), with a
    per-query correctness flag against the stored label. This is the
    operator that turns a similarity index into a labeler (dedup
    triage, taxonomy propagation, weak supervision) and the
    evaluation harness for every ANN family above (swap the exact
    top-k for any approximate one and the same vote/compare applies).

    Engine shape: the exact q_knn_bruteforce skeleton (broadcast
    query set against one corpus scan, per-query top-k window moving
    k*|queries| rows) + one (query, label) vote aggregate + one
    row_number argmax — all shuffles are queries-sized. Exactness:
    cosine ordering is a fixed IEEE sequence from identical doubles
    (the knn-family argument); votes and the argmax are integer/
    lexicographic, so the oracle is a FULL equality.

    At 100 TB: identical posture to q_knn_bruteforce — corpus
    partition-parallel, query set broadcast; production swaps the
    brute-force candidate stage for the IVF/LSH/RP index, leaving
    this query's vote plan untouched.
    """
    e = _normed(load_table(spark, sf_dir, "embeddings"), "label")
    q = (e.where(F.expr(_QUERY_FILTER))
         .select(F.col("vec_id").alias("query_id"),
                 F.col("label").alias("true_label"),
                 F.col("v").alias("qv"), F.col("nrm").alias("qnrm")))
    w = Window.partitionBy("query_id").orderBy(F.col("cos_raw").desc(),
                                               "vec_id")
    topk = (F.broadcast(q)
            .join(e.select("vec_id", "v", "nrm",
                           F.col("label").alias("nbr_label")),
                  F.col("query_id") != F.col("vec_id"))
            .withColumn("cos_raw", _cos_raw())
            .withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= _K)
            .select("query_id", "true_label", "nbr_label"))
    votes = (topk.groupBy("query_id", "true_label", "nbr_label")
             .agg(F.count(F.lit(1)).alias("n_votes")))
    vw = Window.partitionBy("query_id").orderBy(F.col("n_votes").desc(),
                                                "nbr_label")
    return (votes.withColumn("vr", F.row_number().over(vw))
            .where(F.col("vr") == 1)
            .select("query_id", "true_label",
                    F.col("nbr_label").alias("predicted_label"),
                    "n_votes",
                    (F.col("nbr_label") == F.col("true_label"))
                    .cast("int").alias("correct")))


@register(
    "q_nearest_centroid_confusion",
    oracle=f"""
    WITH e AS (SELECT vec_id, label,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings
               WHERE embedding IS NOT NULL AND len(embedding) = {_DIM}),
    nums AS (SELECT unnest(generate_series(1, {_DIM})) AS pos),
    dims AS (
        SELECT label, nums.pos, v[nums.pos] AS x
        FROM e JOIN nums ON nums.pos <= len(v)),
    cm AS (  -- per-(label, dim) mean from a rounded-decimal fold
        SELECT label, pos,
               CAST(SUM(CAST(ROUND(x, 9) AS DECIMAL(38,9)))
                    AS DOUBLE) / COUNT(*) AS c
        FROM dims GROUP BY label, pos),
    cents AS (
        SELECT label AS cl, list(c ORDER BY pos) AS cv
        FROM cm GROUP BY label),
    assigned AS (
        SELECT e.vec_id, e.label AS true_label, c.cl AS predicted_label,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_sum(list_transform(
                       list_zip(e.v, c.cv),
                       x -> (x[1] - x[2]) * (x[1] - x[2]))), c.cl) AS rk
        FROM e CROSS JOIN cents c)
    SELECT true_label, predicted_label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors
    FROM assigned WHERE rk = 1
    GROUP BY 1, 2
    """,
    tags=("similarity", "classifier", "centroid", "confusion", "ml-eval"),
)
def q_nearest_centroid_confusion(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """NEAREST-CENTROID classification + CONFUSION MATRIX — the
    Rocchio classifier and the evaluation rollup in one pass family:
    per-label centroids from the training labels, every vector
    re-assigned to its nearest centroid by squared L2, and the
    (true, predicted) count matrix out — the label-quality
    diagnostic that tells an embedding-curation pipeline WHICH
    classes bleed into which (q_label_noise_screen's per-row flag,
    aggregated to the class level).

    Exactness: centroid means fold per-(label, dim) as
    ROUND(x, 9) -> DECIMAL(38,9) sums (exact, order-free) divided
    once; distances are SEQUENTIAL left folds over identical doubles
    (Spark ``aggregate`` vs DuckDB ``list_sum`` — the q_kmeans_lloyd
    argument), so assignment and the matrix match bit-for-bit under
    a FULL oracle.

    At 100 TB: the centroid state is O(labels * dim) (combiner-
    reduced posexplode agg, broadcast back); assignment is one
    corpus scan against the broadcast centroids; the matrix is
    O(labels^2). Same posture as q_kmeans_lloyd's assign step with
    labels as fixed clusters.
    """
    e = (load_table(spark, sf_dir, "embeddings")
         .where(F.col("embedding").isNotNull()
                & (F.size("embedding") == _DIM))
         .select("vec_id", "label", _as_double("embedding").alias("v")))
    m = (e.select("label", F.posexplode("v").alias("pos", "x"))
         .groupBy("label", "pos")
         .agg((F.sum(F.round(F.col("x"), 9).cast("decimal(38,9)"))
               .cast("double") / F.count(F.lit(1))).alias("c")))
    cents = (m.groupBy("label")
             .agg(F.array_sort(
                 F.collect_list(F.struct("pos", "c"))).alias("s"))
             .select(F.col("label").alias("cl"),
                     F.col("s.c").alias("cv")))
    d = F.aggregate(
        F.zip_with(F.col("v"), F.col("cv"),
                   lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, x: acc + x)
    w = Window.partitionBy("vec_id").orderBy("d", "cl")
    return (e.crossJoin(F.broadcast(cents))
            .withColumn("d", d)
            .withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1)
            .groupBy(F.col("label").alias("true_label"),
                     F.col("cl").alias("predicted_label"))
            .agg(F.count(F.lit(1)).alias("n_vectors")))


@register(
    "q_knn_ivf_pq",
    oracle=None,  # recall-bounded vs q_knn_bruteforce (the ANN family
                  # contract); floor in tests/test_similarity.py and
                  # tools/recall_report.py
    tags=("similarity", "knn", "ivf", "pq", "adc", "ann"),
)
def q_knn_ivf_pq(spark: SparkSession, sf_dir: str,
                 refine: int = 20 * _K) -> DataFrame:
    """Approximate top-5 via IVF + PQ-ADC COMPOSED — the production
    FAISS IVFPQ shape, and the only family member where BOTH scan
    dimensions shrink: the IVF coarse quantizer prunes WHICH rows are
    scanned (|corpus| * nprobe / k per query) and product-quantization
    codes shrink WHAT is read per row (m bytes instead of 4*d float
    bytes). The standalone operators bound each axis separately
    (q_knn_ivf: rows; q_knn_pq_adc: bytes); at 100 TB only their
    composition is the memory-AND-compute-bounded index.

    Build: the trained spherical-k-means coarse quantizer
    (_train_quantizer, k ~ sqrt(n) capped, O(k*d) driver traffic per
    round) assigns each vector to its _IVF_ASSIGN nearest buckets;
    the same corpus trains the per-subspace PQ codebooks
    (_train_pq_codebooks). Codes here quantize the RAW vector, not
    the residual (IVFFlat-ADC hybrid): residual encoding buys PQ
    precision at the cost of coupling the codebooks to the coarse
    index — with the exact-cosine rerank tail, raw-vector codes reach
    the same floors and keep the code column index-independent (it
    can serve q_knn_pq_adc unchanged).

    Search: per query the driver picks nprobe = sqrt(k)-scaled
    nearest buckets (a |q| x k matmul on the O(k*d) broadcast
    centroids); the scan FILTERS to the union of probed buckets
    BEFORE the Arrow pass (at scale: partition pruning on a
    bucket-partitioned inverted file), scores codes per query via the
    ADC lookup table masked to that query's probed buckets, and emits
    per-task top-refine partials; a global limit-bounded window and
    an exact-cosine rerank over |q| * refine candidate ids finish it
    — the q_knn_pq_adc tail, shared through _rerank and _top_k.
    """
    import numpy as np
    import pandas as pd

    e = _normed(load_table(spark, sf_dir, "embeddings")).persist()
    seed, n = _ivf_seed(e)
    if n == 0:  # empty corpus: typed empty result, not a crash
        return spark.createDataFrame([], _KNN_SCHEMA)
    k = _ivf_k(n)
    c_mat = _train_quantizer(e, seed, k, _DIM)
    # one probe wider than standalone IVF: the composition multiplies
    # the two stages' losses (measured 0.72/0.84/0.78 at the IVF
    # settings), and +1 probe + a 2x refine shortlist buy the floor
    # back for O(n/k) extra code reads per query, no extra exact work
    nprobe = min(k, _ivf_nprobe(k) + 1)
    books = _train_pq_codebooks(e, _pq_ksub(n))   # (m, ksub, dsub)
    q_ids, q_mat, lut = _pq_queries(e, books)
    # per-query probed buckets (|q| x k driver matmul on the O(k*d)
    # centroid matrix — the q_knn_ivf probe shape)
    probes = np.argsort(-(q_mat @ c_mat.T), axis=1)[:, :nprobe]
    probed_any = sorted({int(b) for row in probes for b in row})
    # bitmap mask[q, bucket] — |q| x k booleans in the task closure
    mask = np.zeros((len(q_ids), k), dtype=bool)
    for qi, row in enumerate(probes):
        mask[qi, row] = True

    inv = e.mapInPandas(_ivf_assign_fn(c_mat, min(_IVF_ASSIGN, k)),
                        schema=_IVF_SCHEMA)
    # the inverted-file prune: only probed buckets are scanned (at
    # scale this is partition pruning on the bucket-partitioned file)
    probed = inv.where(F.col("bucket").isin(probed_any))

    def adc_scan(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            # mask rows outside each query's probed buckets
            buckets = pdf["bucket"].to_numpy()
            scores = np.where(mask[:, buckets],
                              _adc_scores(pdf, books, lut), -np.inf)
            r = min(refine, len(pdf))
            top = np.argpartition(-scores, r - 1, axis=1)[:, :r]
            ids = pdf["vec_id"].to_numpy()
            sc = np.take_along_axis(scores, top, axis=1)
            keep = np.isfinite(sc)
            yield pd.DataFrame({
                "query_id": np.repeat(q_ids, r)[keep.ravel()],
                "neighbor_id": ids[top].ravel()[keep.ravel()],
                "adc": sc.ravel()[keep.ravel()]})

    cand = probed.mapInPandas(
        adc_scan, schema="query_id long, neighbor_id long, adc double")
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), "neighbor_id")
    shortlist = (cand.where(F.col("query_id") != F.col("neighbor_id"))
                 .distinct()   # nassign=2 can emit a row from 2 buckets
                 .withColumn("r", F.row_number().over(w_adc))
                 .where(F.col("r") <= refine)
                 .select("query_id", "neighbor_id"))
    return _top_k(_rerank(shortlist, e))


# ---------------------------------------------------------------------------
# On-disk IVF: the inverted file MATERIALIZED as a bucket-partitioned
# parquet layout, probed with planning-time partition pruning.

_IVF_FILE_ROOT = _os.path.join(__import__("tempfile").gettempdir(),
                               "mmr_ivf_file")
# The serving batch: a FIXED handful of query ids (a subset of the
# standard `vec_id % 100 = 0` query set, so the brute-force ground
# truth covers them). Serving reads nprobe inverted lists per query —
# the pruning fraction is |union of probed buckets| / k, which only
# shows as a real prune for a bounded batch (an unbounded query set
# probes every list, and belongs on the in-memory q_knn_ivf path).
_IVF_FILE_QUERY_IDS = (0, 100, 200, 300)


def ivf_file_index(spark: SparkSession, sf_dir: str):
    """Build (once per sf_dir fingerprint) the ON-DISK inverted file:
    the (vec_id, v, nrm) corpus written as parquet PARTITIONED BY
    bucket — one directory per inverted list — plus the trained
    centroid matrix as a k-row sidecar parquet. Returns
    ``(index_path, centroid_matrix)`` or ``(None, None)`` for an
    empty corpus.

    Reuse follows the partitioned_events/bucketed_fixture contract:
    the path is keyed by a (size, mtime) fingerprint of the source
    parquet, so regenerated fixtures can never serve a stale index,
    and repeat calls within or across sessions reload the centroids
    from the sidecar instead of retraining (rebuilding the index per
    query would hide the point — a production IVF is trained once
    and probed millions of times).
    """
    from my_mapreduce_spark.queries.bucketed import _fixture_tag

    root = _os.path.join(_IVF_FILE_ROOT, _fixture_tag(sf_dir, "embeddings"))
    idx = _os.path.join(root, "index")
    cent = _os.path.join(root, "centroids")
    if _os.path.exists(_os.path.join(idx, "_SUCCESS")) \
            and _os.path.exists(_os.path.join(cent, "_SUCCESS")):
        return idx, _read_centroids(spark, cent)

    e = _normed(load_table(spark, sf_dir, "embeddings")).persist()
    try:
        c_mat = _write_ivf_file(spark, e, idx, cent)
        return (None, None) if c_mat is None else (idx, c_mat)
    finally:
        e.unpersist()


def _write_ivf_file(spark: SparkSession, corpus: DataFrame, idx: str,
                    cent: str):
    """The one on-disk IVF build: train the coarse quantizer on the
    normed ``corpus``, write its assigned rows PARTITIONED BY bucket
    under ``idx`` and the centroid matrix as the k-row sidecar under
    ``cent``. Returns the centroid matrix, or None for an empty
    corpus."""
    seed, n = _ivf_seed(corpus)
    if n == 0:
        return None
    k = _ivf_k(n)
    c_mat = _train_quantizer(corpus, seed, k, _DIM)
    # one directory per inverted list; lists are centroid-balanced
    # by construction (k-means), so files are near-uniform. At
    # 100 TB this is the layout every disk-based IVF serves from:
    # a probe touches nprobe/k of the BYTES, before any row is read.
    (corpus.mapInPandas(_ivf_assign_fn(c_mat, min(_IVF_ASSIGN, k)),
                        schema=_IVF_SCHEMA)
        .repartition("bucket")
        .write.mode("overwrite").partitionBy("bucket").parquet(idx))
    spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(c_mat)],
        "cid long, cv array<double>").coalesce(1) \
        .write.mode("overwrite").parquet(cent)
    return c_mat


def _read_centroids(spark: SparkSession, cent: str):
    """The centroid matrix back from the sidecar _write_ivf_file wrote
    (O(k*d), k <= 4096)."""
    import numpy as np

    rows = spark.read.parquet(cent).collect()
    c_mat = np.zeros((len(rows), _DIM))
    for r in rows:
        c_mat[r.cid] = np.asarray(r.cv)
    return c_mat


def _ivf_file_serve(spark: SparkSession, sf_dir: str, idx: str | None,
                    c_mat) -> DataFrame:
    """Serve the _IVF_FILE_QUERY_IDS batch from the on-disk inverted
    file ``idx`` with centroids ``c_mat`` (an index call's return;
    ``idx`` None = empty corpus): driver-side probe sets become a
    literal ``bucket IN (...)`` planning-time partition prune, and the
    surviving candidates are exact-cosine reranked."""
    import numpy as np

    if idx is None:
        return spark.createDataFrame([], _KNN_SCHEMA)
    nprobe = _ivf_nprobe(len(c_mat))

    e = _normed(load_table(spark, sf_dir, "embeddings"))
    qrows = e.where(F.col("vec_id").isin(*_IVF_FILE_QUERY_IDS)).collect()
    if not qrows:
        return spark.createDataFrame([], _KNN_SCHEMA)
    qm = np.stack([np.asarray(r.v) / r.nrm for r in qrows])
    probes = np.argsort(-(qm @ c_mat.T), axis=1)[:, :nprobe]
    buckets = sorted({int(b) for row in probes for b in row})
    q = spark.createDataFrame(
        [(int(r.vec_id), r.v, float(r.nrm), int(b))
         for r, row in zip(qrows, probes) for b in row],
        "query_id long, qv array<double>, qnrm double, bucket long")

    inv = (spark.read.schema(_IVF_SCHEMA).parquet(idx)
           # literal IN over the partition column -> planning-time prune
           .where(F.col("bucket").isin(*buckets)))
    return _top_k(inv.join(F.broadcast(q), "bucket")
                  .where(F.col("query_id") != F.col("vec_id"))
                  .select("query_id", F.col("vec_id").alias("neighbor_id"),
                          _cos_raw().alias("cos_raw"))
                  .dropDuplicates(["query_id", "neighbor_id"]))


@register(
    "q_knn_ivf_file",
    oracle=None,  # recall-bounded vs q_knn_bruteforce restricted to
                  # the serving batch; floor in tests/test_ivf_file.py
                  # and tools/recall_report.py
    tags=("similarity", "knn", "ivf", "ann", "partition-pruning",
          "inverted-file"),
)
def q_knn_ivf_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 served from the MATERIALIZED on-disk IVF —
    the bucket-partitioned parquet layout q_knn_ivf's docstring
    promises ("at scale: partition pruning on a bucket-partitioned
    inverted file"), demonstrated instead of described.

    Serving shape: the trained centroids (O(k*d), the sidecar) score
    the batch's query vectors; each query's nprobe nearest bucket ids
    are computed DRIVER-SIDE (|batch| * nprobe ints — the contract-
    bounded collect class) and become a LITERAL ``bucket IN (...)``
    predicate on the index read. Because ``bucket`` is the Hive
    partition column, the filter resolves at PLANNING time against
    the directory listing — PartitionFilters, not data filters — so
    the scan never opens an unprobed inverted list's files. The exact
    cosine rerank over the surviving candidates is the q_knn_ivf JVM
    fold.

    At 100 TB: k caps at 4096 lists; a serving batch touches
    <= |batch| * nprobe of them, so the scan cost is bytes-of-probed-
    lists, not bytes-of-corpus — the same planning-time prune
    q_partitioned_write_prune proves for date/type layouts, applied
    to the ANN index. The fixture's near-uniform vectors force a
    generous nprobe (k/4); clustered production embeddings serve the
    same recall at k/64, where the prune is ~95% of bytes even for a
    multi-query batch. tests/test_ivf_file.py asserts PartitionFilters
    reaches the listing, the numPartitions metric equals the probed
    set exactly, and recall >= 0.8 vs brute force on the batch.
    """
    return _ivf_file_serve(spark, sf_dir, *ivf_file_index(spark, sf_dir))


# ---------------------------------------------------------------------------
# Incremental IVF refresh: append a delta batch into the existing
# bucket-partitioned layout WITHOUT retraining — the production
# "index the new crawl" path (round-11 frontier extension of
# q_knn_ivf_file).

_IVF_DELTA_MOD = 10   # vec_id % 10 == 9 plays the newly-crawled batch


def ivf_file_index_incremental(spark: SparkSession, sf_dir: str):
    """Build (once per source fingerprint) the REFRESHED inverted
    file: centroids trained on the BASE 90% of the corpus only, the
    base vectors written as the bucket-partitioned layout, then the
    10% DELTA batch assigned with the FROZEN base centroids and
    parquet-APPENDED into the same bucket directories (new files
    beside the base files — base bytes are never rewritten). A
    ``_DELTA_DONE`` marker makes the append idempotent across
    sessions. Returns ``(index_path, centroid_matrix)``.

    This is the refresh contract a production IVF runs on every
    crawl: train once, then O(delta) assign+append per batch — never
    O(corpus) rebuild, never a retrain that would invalidate every
    existing list assignment. Re-training cadence (when drift makes
    the frozen quantizer stale) is a quality decision measured by
    recall against brute force, which tests/test_ivf_file.py pins
    for this split exactly as for the one-shot index."""
    from my_mapreduce_spark.queries.bucketed import _fixture_tag

    root = _os.path.join(_IVF_FILE_ROOT,
                         _fixture_tag(sf_dir, "embeddings") + "-incr")
    idx = _os.path.join(root, "index")
    cent = _os.path.join(root, "centroids")
    marker = _os.path.join(root, "_DELTA_DONE")
    if _os.path.exists(marker):
        return idx, _read_centroids(spark, cent)

    e = _normed(load_table(spark, sf_dir, "embeddings")).persist()
    try:
        base = e.where(F.col("vec_id") % _IVF_DELTA_MOD != _IVF_DELTA_MOD - 1)
        delta = e.where(F.col("vec_id") % _IVF_DELTA_MOD == _IVF_DELTA_MOD - 1)
        c_mat = _write_ivf_file(spark, base, idx, cent)
        if c_mat is None:
            return None, None
        # the refresh: delta assigned under the FROZEN quantizer,
        # appended into the existing bucket dirs — O(delta) bytes
        (delta.mapInPandas(_ivf_assign_fn(c_mat, min(_IVF_ASSIGN, len(c_mat))),
                           schema=_IVF_SCHEMA)
              .repartition("bucket")
              .write.mode("append").partitionBy("bucket").parquet(idx))
        with open(marker, "w") as f:
            f.write("ok\n")
        return idx, c_mat
    finally:
        e.unpersist()


@register(
    "q_knn_ivf_file_refresh",
    oracle=None,  # recall-bounded vs brute force on the batch over
                  # the FULL (base + delta) corpus; floor + delta-
                  # visibility pins in tests/test_ivf_file.py
    tags=("similarity", "knn", "ivf", "ann", "incremental",
          "partition-pruning", "inverted-file"),
)
def q_knn_ivf_file_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 served from the INCREMENTALLY refreshed
    on-disk IVF (ivf_file_index_incremental): centroids trained on
    the base 90%, the 10% delta batch assigned under the frozen
    quantizer and parquet-appended into the same bucket partitions.
    Serving is q_knn_ivf_file's _ivf_file_serve — driver-side probe-set
    computation, a literal ``bucket IN (...)`` planning-time
    partition prune, exact JVM cosine rerank — and the result set now
    contains delta vectors (tests pin at least one delta neighbor in
    the batch's top-5s), proving appended lists serve without any
    base rewrite.

    At 100 TB this is the only sustainable index cadence: each crawl
    batch costs O(delta) assign + append; the quantizer retrains
    only when recall (measured continuously against a brute-forced
    sample, the recall_report harness here) decays below floor."""
    return _ivf_file_serve(spark, sf_dir,
                           *ivf_file_index_incremental(spark, sf_dir))
