"""Corpus retrieval: BM25 lexical ranking and hybrid lexical+vector
rerank (SURVEY.md §2D north-star depth — the query side of a training
-data / RAG pipeline; the reference engine has no retrieval surface,
its nearest analogue is the inverted index of mrapps/indexer.go).

Both queries are fully DuckDB-oracle-checked: BM25 is pure relational
algebra once tf/df/dl are computed, and the hybrid rerank adds one
exact cosine join against the ``embeddings`` table.

Scale shape (100 TB): the per-doc token work filters each document's
token ARRAY down to the (tiny, broadcast) query-term set BEFORE
exploding, so the explode emits O(matches) rows, not O(corpus tokens);
df/N/avgdl are scalar or term-cardinality aggregates (map-side
combined); the final ranking moves only candidate rows through one
top-k window. The corpus is scanned exactly once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from my_mapreduce_spark.functions.text import tokens
from my_mapreduce_spark.io import load_table
from my_mapreduce_spark.queries.similarity import _as_double, _dot
from my_mapreduce_spark.registry import register

_QUERY_TERMS = ("spark", "join", "vector")
_K1 = 1.2
_B = 0.75
_TOP_N = 10          # BM25 result size
_HYBRID_CAND = 20    # BM25 candidates fed to the vector rerank
_HYBRID_TOP = 5
_QVEC_ID = 0         # the query embedding = embeddings[vec_id = 0]

_TERMS_SQL = ", ".join(f"'{t}'" for t in _QUERY_TERMS)

# tf/df/dl/N/avgdl computed once, shared by both oracles
_BM25_CTE = f"""
    toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS w
        FROM documents),
    dl AS (SELECT doc_id, len(w) AS dl FROM toks),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(w) AS term FROM toks)
        WHERE term IN ({_TERMS_SQL})
        GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term),
    scored AS (
        SELECT tf.doc_id,
               SUM(ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf * ({_K1} + 1.0)
                   / (tf.tf + {_K1} * (1.0 - {_B}
                                       + {_B} * dl.dl / stats.avgdl)))
                   AS score,
               COUNT(*) AS n_terms
        FROM tf
        JOIN df USING (term)
        JOIN dl USING (doc_id)
        CROSS JOIN stats
        GROUP BY tf.doc_id)
"""


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, score, n_terms) BM25 relation shared by both queries."""
    docs = load_table(spark, sf_dir, "documents")
    terms = F.array(*[F.lit(t) for t in _QUERY_TERMS])
    toks = docs.select(
        "doc_id",
        tokens(F.lower("text")).alias("w"))
    dl = toks.select("doc_id", F.size("w").alias("dl"))
    # keep only query-term hits BEFORE exploding: O(matches) rows out
    tf = (toks.select(
            "doc_id",
            F.explode(F.filter("w", lambda x: F.array_contains(terms, x)))
            .alias("term"))
          .groupBy("doc_id", "term").agg(F.count("*").alias("tf")))
    df_ = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    stats = dl.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))

    idf = F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    w_term = (idf * F.col("tf") * (_K1 + 1.0)
              / (F.col("tf") + _K1 * (1.0 - _B
                                      + _B * F.col("dl") / F.col("avgdl"))))
    return (tf.join(F.broadcast(df_), "term")
            .join(dl, "doc_id")
            .crossJoin(F.broadcast(stats))
            .groupBy("doc_id")
            .agg(F.sum(w_term).alias("score"), F.count("*").alias("n_terms")))


@register(
    "q_bm25_search",
    oracle=f"""
    WITH {_BM25_CTE},
    ranked AS (
        SELECT doc_id, score, n_terms,
               ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rnk
        FROM scored)
    SELECT doc_id, ROUND(score, 6) AS bm25, n_terms, rnk
    FROM ranked WHERE rnk <= {_TOP_N}
    """,
    tags=("retrieval", "text", "bm25"),
)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (k1=1.2, b=0.75) top-10 for the fixed conjunctive query
    (spark, join, vector) over ``documents`` — the lexical half of a retrieval
    stack, and the scoring-function upgrade of the reference's
    inverted index (mrapps/indexer.go:38 emits doc lists per term;
    BM25 weights them).

    One corpus scan computes the token array per doc; doc length
    comes from the array size (no explode), term frequencies from
    exploding only the query-term matches, document frequencies and
    (N, avgdl) from map-side-combined aggregates of those. idf and
    the scalar stats broadcast onto the tf relation, one hash agg
    sums per-term contributions. At 100 TB nothing driver-side ever
    exceeds |terms| rows, and the global top-10 is sort+limit —
    Spark's TakeOrderedAndProject, a per-partition partial top-k —
    NOT a single-partition global window; the rank window runs on
    the 10 surviving rows only.
    """
    w = Window.orderBy(F.col("score").desc(), "doc_id")
    return (_bm25_scored(spark, sf_dir)
            .orderBy(F.col("score").desc(), "doc_id").limit(_TOP_N)
            .withColumn("rnk", F.row_number().over(w))
            .select("doc_id", F.round("score", 6).alias("bm25"),
                    "n_terms", "rnk"))


@register(
    "q_hybrid_retrieval",
    oracle=f"""
    WITH {_BM25_CTE},
    cand AS (
        SELECT doc_id, score,
               ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rnk
        FROM scored QUALIFY rnk <= {_HYBRID_CAND}),
    mx AS (SELECT MAX(score) AS mx FROM cand),
    e AS (SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
    qv AS (SELECT v FROM e WHERE vec_id = {_QVEC_ID}),
    rer AS (
        SELECT cand.doc_id,
               cand.score / mx.mx AS bm25_norm,
               list_dot_product(e.v, qv.v)
               / (sqrt(list_dot_product(e.v, e.v))
                  * sqrt(list_dot_product(qv.v, qv.v))) AS cosine
        FROM cand
        JOIN e ON e.vec_id = cand.doc_id
        CROSS JOIN mx CROSS JOIN qv),
    fin AS (
        SELECT doc_id, bm25_norm, cosine,
               0.5 * bm25_norm + 0.5 * cosine AS hybrid,
               ROW_NUMBER() OVER (ORDER BY 0.5 * bm25_norm + 0.5 * cosine
                                  DESC, doc_id) AS rnk
        FROM rer)
    SELECT doc_id, ROUND(bm25_norm, 6) AS bm25_norm,
           ROUND(cosine, 6) AS cosine, ROUND(hybrid, 6) AS hybrid, rnk
    FROM fin WHERE rnk <= {_HYBRID_TOP}
    """,
    tags=("retrieval", "hybrid", "embedding"),
)
def q_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 shortlists 20 candidates, an exact
    cosine against a fixed query embedding (vec_id=0) reranks,
    final score = 0.5*normalized-BM25 + 0.5*cosine, top-5 kept.

    The candidate set (and the 1-row max-score / query-vector sides)
    are k-row relations — every join below the corpus scan is a
    broadcast; the expensive float math runs on |candidates| rows
    only. This two-stage lexical-then-vector funnel is the standard
    production retrieval shape precisely because it commutes with
    scale: stage 1 is the cheap pruner, stage 2's cost is
    corpus-size-independent.
    """
    cand = (_bm25_scored(spark, sf_dir)
            .orderBy(F.col("score").desc(), "doc_id").limit(_HYBRID_CAND)
            .select("doc_id", "score"))
    mx = cand.agg(F.max("score").alias("mx"))

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", _as_double("embedding").alias("v"))
    qv = (e.where(F.col("vec_id") == _QVEC_ID)
          .select(F.col("v").alias("qvec")))

    cosine = (_dot(F.col("v"), F.col("qvec"))
              / (F.sqrt(_dot(F.col("v"), F.col("v")))
                 * F.sqrt(_dot(F.col("qvec"), F.col("qvec")))))
    w_h = Window.orderBy(F.col("hybrid").desc(), "doc_id")
    return (cand
            .join(e, cand.doc_id == e.vec_id)
            .crossJoin(F.broadcast(mx))
            .crossJoin(F.broadcast(qv))
            .select("doc_id",
                    (F.col("score") / F.col("mx")).alias("bm25_norm"),
                    cosine.alias("cosine"))
            .withColumn("hybrid",
                        0.5 * F.col("bm25_norm") + 0.5 * F.col("cosine"))
            .withColumn("rnk", F.row_number().over(w_h))
            .where(F.col("rnk") <= _HYBRID_TOP)
            .select("doc_id", F.round("bm25_norm", 6).alias("bm25_norm"),
                    F.round("cosine", 6).alias("cosine"),
                    F.round("hybrid", 6).alias("hybrid"), "rnk"))


_NDCG_K = 10
_NDCG_QUERY_FILTER = "vec_id % 100 = 0"


@register(
    "q_ndcg_eval",
    oracle=f"""
    WITH e AS (SELECT vec_id, label,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    n AS (SELECT vec_id, label, v,
                 sqrt(list_dot_product(v, v)) AS nrm FROM e),
    q AS (SELECT * FROM n WHERE {_NDCG_QUERY_FILTER}),
    ranked AS (
        SELECT q.vec_id AS query_id, q.label AS qlabel,
               CASE WHEN c.label = q.label THEN 1 ELSE 0 END AS rel,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_dot_product(q.v, c.v) / (q.nrm * c.nrm)
                            DESC, c.vec_id) AS rnk
        FROM q JOIN n c ON q.vec_id <> c.vec_id),
    topk AS (SELECT * FROM ranked WHERE rnk <= {_NDCG_K}),
    dcg AS (
        SELECT query_id, qlabel,
               CAST(SUM(rel) AS BIGINT) AS n_rel_topk,
               SUM(rel / log2(rnk + 1.0)) AS dcg
        FROM topk GROUP BY query_id, qlabel),
    lbl AS (SELECT label, COUNT(*) AS cnt FROM n GROUP BY label),
    nums AS (SELECT unnest(generate_series(1, {_NDCG_K})) AS i),
    idcg AS (
        SELECT dcg.query_id,
               SUM(1.0 / log2(nums.i + 1.0)) AS idcg
        FROM dcg JOIN lbl ON lbl.label = dcg.qlabel
        JOIN nums ON nums.i <= least({_NDCG_K}, lbl.cnt - 1)
        GROUP BY dcg.query_id)
    SELECT dcg.query_id, dcg.n_rel_topk,
           ROUND(COALESCE(dcg.dcg / idcg.idcg, 0.0), 6) AS ndcg
    FROM dcg LEFT JOIN idcg ON idcg.query_id = dcg.query_id
    """,
    tags=("retrieval", "eval", "knn"),
)
def q_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of exact cosine retrieval, relevance = label match:
    for each query vector (the vec_id % 100 = 0 subset), rank the corpus by
    cosine, score DCG with the standard 1/log2(rank+1) discount,
    and normalize by the ideal DCG given how many relevant items
    exist (label count - 1, capped at 10). The offline ranking-
    quality metric every retrieval/embedding pipeline reports.

    Same plan skeleton as q_knn_bruteforce: the query set broadcasts
    onto one corpus scan, the per-query top-10 window moves
    k*|queries| rows, and everything after (DCG, label counts,
    closed-form IDCG via an array-local sequence aggregate) operates
    on |queries|- or |labels|-row relations. At 100 TB the corpus
    scan dominates; swap the exact ranking for the LSH/IVF/PQ paths
    to trade recall for scan cost without touching the metric code.
    """
    from my_mapreduce_spark.queries.similarity import _normed

    emb = load_table(spark, sf_dir, "embeddings")
    e = _normed(emb, "label")  # label rides the one scan, no self-join
    q = e.where(F.expr(_NDCG_QUERY_FILTER)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"), F.col("label").alias("qlabel"))
    cos = _dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "vec_id")
    topk = (e.join(F.broadcast(q), F.col("query_id") != F.col("vec_id"))
            .select("query_id", "qlabel", "vec_id", "label", cos.alias("cos"))
            .withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= _NDCG_K)
            .withColumn("rel", (F.col("label") == F.col("qlabel"))
                        .cast("int")))
    dcg = (topk.groupBy("query_id", "qlabel")
           .agg(F.sum("rel").cast("long").alias("n_rel_topk"),
                F.sum(F.col("rel") / F.log2(F.col("rnk") + 1.0))
                .alias("dcg")))
    lbl = e.groupBy("label").agg(F.count("*").alias("cnt"))
    m = F.least(F.lit(_NDCG_K), F.col("cnt") - 1)
    idcg = F.expr(f"aggregate(sequence(1, int(m)), 0D, "
                  f"(acc, i) -> acc + 1.0 / log2(i + 1.0))")
    return (dcg.join(F.broadcast(lbl), dcg.qlabel == lbl.label, "left")
            .withColumn("m", m)
            .withColumn("idcg", F.when(F.col("m") >= 1, idcg))
            .select("query_id", "n_rel_topk",
                    F.round(F.coalesce(F.col("dcg") / F.col("idcg"),
                                       F.lit(0.0)), 6).alias("ndcg")))


_MINE_K = 3


@register(
    "q_hard_negatives",
    oracle=f"""
    WITH e AS (SELECT vec_id, label,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    n AS (SELECT vec_id, label, v,
                 sqrt(list_dot_product(v, v)) AS nrm FROM e),
    q AS (SELECT * FROM n WHERE {_NDCG_QUERY_FILTER}),
    scored AS (
        SELECT q.vec_id AS query_id,
               CASE WHEN c.label = q.label THEN 'pos'
                    ELSE 'hard_neg' END AS kind,
               c.vec_id AS neighbor_id,
               list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cos
        FROM q JOIN n c ON q.vec_id <> c.vec_id),
    ranked AS (
        SELECT query_id, kind, neighbor_id, cos,
               ROW_NUMBER() OVER (PARTITION BY query_id, kind
                                  ORDER BY cos DESC, neighbor_id) AS rnk
        FROM scored)
    SELECT query_id, kind, neighbor_id, ROUND(cos, 6) AS cosine, rnk
    FROM ranked WHERE rnk <= {_MINE_K}
    """,
    tags=("retrieval", "training-data", "embedding"),
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-pair mining for embedding training: per query
    vector, the top-3 most similar SAME-label vectors (positives)
    and the top-3 most similar DIFFERENT-label vectors (hard
    negatives — the near-misses that make contrastive losses learn;
    random negatives are trivially separable).

    One corpus scan with the broadcast query set (same skeleton as
    q_knn_bruteforce), kind assigned per pair, and ONE window
    partitioned by (query, kind) takes both top-3 lists in a
    single pass — no second scan for the negatives. At 100 TB the
    exact ranking swaps for the ANN shortlists (LSH/IVF/PQ paths)
    with this query unchanged downstream.
    """
    from my_mapreduce_spark.queries.similarity import _normed

    emb = load_table(spark, sf_dir, "embeddings")
    e = _normed(emb, "label")  # label rides the one scan, no self-join
    q = e.where(F.expr(_NDCG_QUERY_FILTER)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"), F.col("label").alias("qlabel"))
    cos = _dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm"))
    kind = F.when(F.col("label") == F.col("qlabel"), "pos").otherwise("hard_neg")
    w = Window.partitionBy("query_id", "kind").orderBy(
        F.col("cos").desc(), "neighbor_id")
    return (e.join(F.broadcast(q), F.col("query_id") != F.col("vec_id"))
            .select("query_id", kind.alias("kind"),
                    F.col("vec_id").alias("neighbor_id"), cos.alias("cos"))
            .withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= _MINE_K)
            .select("query_id", "kind", "neighbor_id",
                    F.round("cos", 6).alias("cosine"), "rnk"))


@register(
    "q_retrieval_recall_mrr",
    oracle=f"""
    WITH e AS (SELECT vec_id, label,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    n AS (SELECT vec_id, label, v,
                 sqrt(list_dot_product(v, v)) AS nrm FROM e),
    q AS (SELECT * FROM n WHERE {_NDCG_QUERY_FILTER}),
    ranked AS (
        SELECT q.vec_id AS query_id, q.label AS qlabel,
               CASE WHEN c.label = q.label THEN 1 ELSE 0 END AS rel,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_dot_product(q.v, c.v) / (q.nrm * c.nrm)
                            DESC, c.vec_id) AS rnk
        FROM q JOIN n c ON q.vec_id <> c.vec_id),
    firstrel AS (
        SELECT query_id, qlabel,
               MIN(CASE WHEN rel = 1 THEN rnk END) AS first_rel_rank,
               CAST(SUM(CASE WHEN rnk <= {_NDCG_K} THEN rel ELSE 0 END)
                    AS BIGINT) AS n_rel_topk
        FROM ranked GROUP BY query_id, qlabel),
    lbl AS (SELECT label, COUNT(*) AS cnt FROM n GROUP BY label)
    SELECT f.query_id,
           CAST(f.first_rel_rank AS BIGINT) AS first_rel_rank,
           ROUND(1.0 / f.first_rel_rank, 6) AS rr,
           f.n_rel_topk,
           ROUND(f.n_rel_topk * 1.0
                 / least({_NDCG_K}, lbl.cnt - 1), 6) AS recall_at_k
    FROM firstrel f JOIN lbl ON lbl.label = f.qlabel
    """,
    tags=("retrieval", "eval", "knn"),
)
def q_retrieval_recall_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal rank and recall@10 of exact cosine retrieval
    (relevance = label match) per query — the two retrieval-eval
    numbers NDCG does not give: HOW DEEP the first relevant hit
    sits (RR; its mean over queries is MRR) and what fraction of
    the attainable relevant set the cutoff captured (recall@k,
    normalized by min(k, |relevant|) so fully-satisfiable queries
    score 1.0). Completes the eval tier next to q_ndcg_eval
    (graded gain) and q_hard_negatives (training-pair mining).

    Plan: same funnel as q_ndcg_eval — the query set broadcasts
    onto ONE corpus scan, the per-query ranking window moves only
    that query's scored rows, and first_rel_rank / n_rel_topk
    reduce per query BEFORE the label-count broadcast join; output
    is |queries| rows. The full ranking (not top-k-truncated) is
    required by RR's unbounded rank, but it never materializes — it
    is one window pass over each query's partition. At 100 TB, swap
    the exact scorer for the IVF/PQ shortlist and this becomes the
    recall-vs-exact harness those indexes are tuned with.
    Reference parity: none; north-star §2D ML-eval depth.
    """
    from my_mapreduce_spark.queries.similarity import _normed

    emb = load_table(spark, sf_dir, "embeddings")
    e = _normed(emb, "label")
    q = e.where(F.expr(_NDCG_QUERY_FILTER)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"), F.col("label").alias("qlabel"))
    cos = _dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "vec_id")
    ranked = (e.join(F.broadcast(q), F.col("query_id") != F.col("vec_id"))
              .select("query_id", "qlabel", "vec_id",
                      (F.col("label") == F.col("qlabel")).cast("int")
                      .alias("rel"), cos.alias("cos"))
              .withColumn("rnk", F.row_number().over(w)))
    firstrel = (ranked.groupBy("query_id", "qlabel")
                .agg(F.min(F.when(F.col("rel") == 1, F.col("rnk")))
                     .alias("first_rel_rank"),
                     F.sum(F.when(F.col("rnk") <= _NDCG_K, F.col("rel"))
                           .otherwise(0)).cast("long").alias("n_rel_topk")))
    lbl = e.groupBy("label").agg(F.count("*").alias("cnt"))
    return (firstrel.join(F.broadcast(lbl),
                          firstrel.qlabel == lbl.label)
            .select("query_id",
                    F.col("first_rel_rank").cast("bigint")
                    .alias("first_rel_rank"),
                    F.round(1.0 / F.col("first_rel_rank"), 6).alias("rr"),
                    "n_rel_topk",
                    F.round(F.col("n_rel_topk")
                            / F.least(F.lit(_NDCG_K), F.col("cnt") - 1)
                            .cast("double"), 6).alias("recall_at_k")))


_ECE_BINS = 10


@register(
    "q_calibration_ece",
    oracle=f"""
    WITH e AS (SELECT vec_id, label,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    n AS (SELECT vec_id, label, v,
                 sqrt(list_dot_product(v, v)) AS nrm FROM e),
    top1 AS (
        SELECT q.vec_id, q.label AS qlabel, c.label AS plabel,
               ROUND(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6)
                   AS conf,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY ROUND(list_dot_product(q.v, c.v)
                                  / (q.nrm * c.nrm), 6)
                            DESC, c.vec_id) AS rnk
        FROM n q JOIN n c ON q.vec_id <> c.vec_id),
    scored AS (
        SELECT LEAST(CAST(FLOOR(GREATEST(conf, 0.0) * {_ECE_BINS})
                          AS BIGINT), {_ECE_BINS - 1}) AS bin,
               conf,
               CASE WHEN plabel = qlabel THEN 1 ELSE 0 END AS correct
        FROM top1 WHERE rnk = 1)
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(conf), 4) AS avg_conf,
           ROUND(SUM(correct) * 1.0 / COUNT(*), 6) AS accuracy
    FROM scored GROUP BY bin
    """,
    tags=("retrieval", "eval", "calibration", "knn"),
)
def q_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration audit (the reliability-diagram table behind
    Expected Calibration Error) for the nearest-neighbor label
    classifier: each vector's top-1 cosine neighbor predicts its
    label with the cosine as CONFIDENCE; confidences bucket into 10
    equal-width bins and each bin reports mean confidence next to
    realized accuracy — the gap per bin, count-weighted, is ECE
    (Guo et al. 2017). A well-calibrated scorer has avg_conf ~
    accuracy in every bin; embedding cosines typically don't, which
    is why retrieval cutoffs tuned on raw cosine thresholds drift
    across corpora — this table is the artifact that catches it.
    Cosines are rounded to 6dp BEFORE ranking, binning, and
    averaging on both engines (the q_lang_id_trigram stability
    contract — near-tie neighbor choices collapse before they can
    flip a rank).

    Plan: the all-pairs top-1 rides the tiled numpy block scorer
    (the q_dedup_embedding_cosine / q_mutual_best_match pattern):
    each unordered tile pair matmuls its block once and emits only
    the PER-ROW partial best for both tiles (self-pairs masked on
    the diagonal), so the global per-query argmax is a hash
    aggregate over O(n · tiles) partial rows — the per-pair-HOF
    self-join formulation measured 27 s at sf0.1 vs ~2 s for this
    plan (kept in git history). Everything after is a 10-row
    aggregate. At 100 TB the exact scorer swaps for the IVF/PQ
    shortlist exactly as in q_retrieval_recall_mrr — the
    calibration table is scorer-agnostic. Reference parity: none;
    north-star §2D ML-eval depth completing the tier: ranking
    (NDCG/MRR), discrimination (AUC), lift (gains), CALIBRATION
    (this).
    """
    import numpy as np
    import pandas as pd

    from my_mapreduce_spark.queries.dedup import _n_tiles

    emb = (load_table(spark, sf_dir, "embeddings")
           .where(F.col("embedding").isNotNull()
                  & (F.size("embedding") > 0))  # np.stack hygiene
           .select("vec_id", "label", _as_double("embedding").alias("v")))
    n_tiles = _n_tiles(emb.count())
    tagged = emb.select("vec_id", "label", "v",
                        (F.col("vec_id") % n_tiles).cast("int").alias("blk"))
    tile_pairs = spark.createDataFrame(
        [(i, j) for i in range(n_tiles) for j in range(n_tiles) if i <= j],
        "ba int, bb int")
    left = (tagged.join(F.broadcast(tile_pairs), F.col("blk") == F.col("ba"))
            .select("ba", "bb", F.lit("L").alias("side"),
                    "vec_id", "label", "v"))
    right = (tagged.join(F.broadcast(tile_pairs), F.col("blk") == F.col("bb"))
             .select("ba", "bb", F.lit("R").alias("side"),
                     "vec_id", "label", "v"))

    def best_in_block(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"q_id": [], "qlabel": [], "partner": [],
                              "plabel": [], "conf": []})
        diagonal = pdf["ba"].iloc[0] == pdf["bb"].iloc[0]
        lmask = pdf["side"] == "L"
        lp = pdf.loc[lmask].sort_values("vec_id")
        rp = lp if diagonal else pdf.loc[~lmask].sort_values("vec_id")
        if len(lp) == 0 or len(rp) == 0:
            return empty
        vl = np.stack(lp["v"].to_numpy())
        vr = vl if diagonal else np.stack(rp["v"].to_numpy())
        vl = vl / np.linalg.norm(vl, axis=1, keepdims=True)
        vr = vr if diagonal else vr / np.linalg.norm(vr, axis=1,
                                                     keepdims=True)
        cos = np.round(vl @ vr.T, 6)
        if diagonal:
            np.fill_diagonal(cos, -2.0)   # mask self-pairs
            if len(lp) == 1:
                return empty              # lone vector: no neighbor here
        lids = lp["vec_id"].to_numpy()
        rids = rp["vec_id"].to_numpy()
        ja = cos.argmax(axis=1)           # per-L best in R (first max =
        out = [pd.DataFrame({              # smallest id after the sort)
            "q_id": lids, "qlabel": lp["label"].to_numpy(),
            "partner": rids[ja], "plabel": rp["label"].to_numpy()[ja],
            "conf": cos[np.arange(len(lids)), ja]})]
        if not diagonal:                  # the transposed direction
            jb = cos.argmax(axis=0)
            out.append(pd.DataFrame({
                "q_id": rids, "qlabel": rp["label"].to_numpy(),
                "partner": lids[jb], "plabel": lp["label"].to_numpy()[jb],
                "conf": cos[jb, np.arange(len(rids))]}))
        return pd.concat(out)

    partials = (left.unionAll(right)
                .groupBy("ba", "bb")
                .applyInPandas(best_in_block,
                               "q_id long, qlabel int, partner long, "
                               "plabel int, conf double"))
    # argmax across tiles: (conf desc, smallest partner id); the
    # winner's label rides in the struct behind the unique tie-break
    top1 = (partials.groupBy("q_id", "qlabel")
            .agg(F.max(F.struct(F.col("conf"),
                                (-F.col("partner")).alias("np"),
                                F.col("plabel"))).alias("m"))
            .select("qlabel", F.col("m.conf").alias("conf"),
                    F.col("m.plabel").alias("plabel")))
    binned = top1.select(
        F.least(F.floor(F.greatest(F.col("conf"), F.lit(0.0))
                        * _ECE_BINS).cast("bigint"),
                F.lit(_ECE_BINS - 1)).alias("bin"),
        "conf",
        (F.col("plabel") == F.col("qlabel")).cast("int").alias("correct"))
    return (binned.groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg("conf"), 4).alias("avg_conf"),
                 F.round(F.sum("correct") / F.count(F.lit(1))
                         .cast("double"), 6).alias("accuracy")))


_RRF_K = 60          # the standard RRF smoothing constant
_RRF_LIST = 20       # depth of each input ranking
_RRF_TOP = 10


@register(
    "q_rrf_fusion",
    oracle=f"""
    WITH {_BM25_CTE},
    la AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY ROUND(score, 6) DESC, doc_id)
                   AS ra
        FROM scored QUALIFY ra <= {_RRF_LIST}),
    e AS (SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
    qv AS (SELECT v AS qvec FROM e WHERE vec_id = {_QVEC_ID}),
    cos AS (
        SELECT vec_id AS doc_id,
               ROUND(list_dot_product(v, qvec)
                     / (sqrt(list_dot_product(v, v))
                        * sqrt(list_dot_product(qvec, qvec))), 6) AS c
        FROM e CROSS JOIN qv),
    lb AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY c DESC, doc_id) AS rb
        FROM cos QUALIFY rb <= {_RRF_LIST}),
    f AS (
        SELECT COALESCE(la.doc_id, lb.doc_id) AS doc_id,
               CAST(la.ra AS BIGINT) AS ra, CAST(lb.rb AS BIGINT) AS rb,
               COALESCE(1.0 / ({_RRF_K} + la.ra), 0)
               + COALESCE(1.0 / ({_RRF_K} + lb.rb), 0) AS rrf
        FROM la FULL JOIN lb ON la.doc_id = lb.doc_id)
    SELECT doc_id, ra, rb, ROUND(rrf, 6) AS rrf,
           ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS rnk
    FROM f QUALIFY rnk <= {_RRF_TOP}
    """,
    tags=("retrieval", "fusion", "rrf", "hybrid"),
)
def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of the BM25 top-20 and the exact-cosine
    top-20 (query embedding vec_id=0): RRF(d) = Σ_lists 1/(60 + rank)
    with absent-from-list contributing 0 — the rank-space alternative
    to q_hybrid_retrieval's score-space mix, and the production
    default for fusing heterogeneous scorers precisely because it
    needs NO score normalization (ranks are scale-free, so a BM25 in
    [0, 12] and a cosine in [-1, 1] fuse without calibration).

    Determinism: both input scores are rounded to 6dp BEFORE ranking
    (the q_lang_id_trigram idiom — last-ulp cross-engine float
    differences collapse before they can flip a rank), ties break on
    doc_id, and the fused score is then an exact function of two
    integer ranks. Scale shape: each list is sort+limit
    (TakeOrderedAndProject partial top-k, never a global-window
    rank over the corpus); the fusion full-outer join and final
    rank run on ≤ 2×20 rows; the 1-row query vector is a
    whitelisted broadcast. At 100 TB the cost is the two scans the
    input rankings already pay.
    """
    # list A: lexical
    wa = Window.orderBy(F.col("s6").desc(), "doc_id")
    la = (_bm25_scored(spark, sf_dir)
          .select("doc_id", F.round("score", 6).alias("s6"))
          .orderBy(F.col("s6").desc(), "doc_id").limit(_RRF_LIST)
          .withColumn("ra", F.row_number().over(wa))
          .select("doc_id", "ra"))
    # list B: vector
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", _as_double("embedding").alias("v"))
    qv = (e.where(F.col("vec_id") == _QVEC_ID)
          .select(F.col("v").alias("qvec")))
    cosine = (_dot(F.col("v"), F.col("qvec"))
              / (F.sqrt(_dot(F.col("v"), F.col("v")))
                 * F.sqrt(_dot(F.col("qvec"), F.col("qvec")))))
    wb = Window.orderBy(F.col("c").desc(), "doc_id")
    lb = (e.crossJoin(F.broadcast(qv))
          .select(F.col("vec_id").alias("doc_id"),
                  F.round(cosine, 6).alias("c"))
          .orderBy(F.col("c").desc(), "doc_id").limit(_RRF_LIST)
          .withColumn("rb", F.row_number().over(wb))
          .select("doc_id", "rb"))
    f = (la.join(lb, "doc_id", "full")
         .select("doc_id",
                 F.col("ra").cast("bigint").alias("ra"),
                 F.col("rb").cast("bigint").alias("rb"),
                 (F.coalesce(1.0 / (_RRF_K + F.col("ra")), F.lit(0.0))
                  + F.coalesce(1.0 / (_RRF_K + F.col("rb")), F.lit(0.0)))
                 .alias("rrf")))
    wf = Window.orderBy(F.col("rrf").desc(), "doc_id")
    return (f.withColumn("rnk", F.row_number().over(wf))
            .where(F.col("rnk") <= _RRF_TOP)
            .select("doc_id", "ra", "rb",
                    F.round("rrf", 6).alias("rrf"), "rnk"))


@register(
    "q_wand_upper_bounds",
    oracle=f"""
    WITH {_BM25_CTE},
    impacts AS (
        SELECT tf.term, tf.doc_id,
               ROUND(ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
                     * tf.tf * ({_K1} + 1.0)
                     / (tf.tf + {_K1} * (1.0 - {_B}
                                         + {_B} * dl.dl / stats.avgdl)), 6)
                   AS impact
        FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
             CROSS JOIN stats),
    ub AS (SELECT term, MAX(impact) AS ub, COUNT(*) AS df
           FROM impacts GROUP BY term),
    theta AS (
        SELECT MIN(score) AS theta FROM (
            SELECT ROUND(SUM(impact), 6) AS score, doc_id
            FROM impacts GROUP BY doc_id
            ORDER BY score DESC, doc_id LIMIT {_TOP_N})),
    doc_ub AS (
        SELECT i.doc_id, SUM(ub.ub) AS ub_sum
        FROM (SELECT DISTINCT term, doc_id FROM impacts) i
        JOIN ub USING (term) GROUP BY i.doc_id),
    prunable AS (
        SELECT doc_id FROM doc_ub CROSS JOIN theta
        WHERE ub_sum < theta)
    SELECT ub.term, CAST(ub.df AS BIGINT) AS df,
           ROUND(ub.ub, 6) AS max_impact,
           CAST(COUNT(p.doc_id) AS BIGINT) AS n_prunable,
           ROUND(COUNT(p.doc_id) * 1.0 / ub.df, 6) AS frac_prunable
    FROM ub
    LEFT JOIN (SELECT i.term, i.doc_id FROM impacts i
               JOIN prunable USING (doc_id)) p USING (term)
    GROUP BY ub.term, ub.df, ub.ub
    """,
    tags=("retrieval", "bm25", "wand", "pruning", "index"),
)
def q_wand_upper_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAND / max-score pruning metadata for the BM25 index: each
    query term's MAX impact score (the per-term upper bound WAND
    stores next to its posting list) and, against the current
    top-10 threshold theta, how many of the term's postings sit in
    documents whose summed upper bounds cannot reach theta — the
    postings a max-score traversal provably never scores. This is
    the index-side artifact that turns top-k retrieval from
    "score every posting" into "score the few that could matter",
    the difference between O(postings) and O(k log k)-ish at
    100 TB index scale (Broder et al. 2003).

    Per-row impacts round to 6dp BEFORE the max/sum (the ranking-
    stability contract), theta is the rounded 10th score, and the
    prunability test compares those rounded values on both engines
    — no accumulation seam wider than the 3-term ub_sum.

    Plan: reuses the audited BM25 relations (tf filtered BEFORE
    exploding, vocabulary-bounded df, broadcast scalar stats); adds
    one per-term max agg, one per-doc 3-term sum, one
    TakeOrderedAndProject for theta, and a semi-join count — all
    postings-sized or smaller, nothing driver-side beyond the
    3-row term relation.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        tokens(F.lower("text")).alias("w"))
    dl = toks.select("doc_id", F.size("w").alias("dl"))
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"),
                   F.avg("dl").alias("avgdl"))
    terms = F.array(*[F.lit(t) for t in _QUERY_TERMS])
    tf = (toks.select(
        "doc_id",
        F.explode(F.array_intersect(terms, F.col("w"))).alias("probe"),
        "w")
        .select("doc_id", F.col("probe").alias("term"),
                F.size(F.filter(F.col("w"),
                                lambda x: x == F.col("probe")))
                .alias("tf")))
    df = tf.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    idf = F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    impact = F.round(
        idf * F.col("tf") * (_K1 + 1.0)
        / (F.col("tf") + _K1 * (1.0 - _B
                                + _B * F.col("dl") / F.col("avgdl"))), 6)
    impacts = (tf.join(F.broadcast(df), "term").join(dl, "doc_id")
               .crossJoin(F.broadcast(stats))
               .select("term", "doc_id", impact.alias("impact"))
               .cache())
    ub = impacts.groupBy("term").agg(F.max("impact").alias("ub"),
                                     F.count(F.lit(1)).alias("df"))
    # theta from the SAME cached impacts relation (summing the
    # 6dp-rounded per-term impacts — the oracle does identically);
    # re-deriving it via _bm25_scored re-scanned documents 5 more
    # times for an equivalent number
    theta = (impacts.groupBy("doc_id")
             .agg(F.round(F.sum("impact"), 6).alias("score"))
             .orderBy(F.col("score").desc(), "doc_id").limit(_TOP_N)
             .agg(F.min("score").alias("theta")))
    doc_ub = (impacts.join(F.broadcast(ub.select("term", "ub")), "term")
              .groupBy("doc_id").agg(F.sum("ub").alias("ub_sum")))
    prunable = (doc_ub.crossJoin(F.broadcast(theta))
                .where(F.col("ub_sum") < F.col("theta"))
                .select("doc_id"))
    pruned_postings = impacts.join(prunable, "doc_id") \
        .groupBy("term").agg(F.count(F.lit(1)).alias("n_prunable"))
    return (ub.join(pruned_postings, "term", "left")
            .select("term", "df",
                    F.round("ub", 6).alias("max_impact"),
                    F.coalesce(F.col("n_prunable"), F.lit(0))
                    .alias("n_prunable"),
                    F.round(F.coalesce(F.col("n_prunable"), F.lit(0))
                            * 1.0 / F.col("df"), 6)
                    .alias("frac_prunable")))
