"""Text-analysis operators over the ``documents`` table.

North-star extensions (SURVEY.md §2D): the per-document statistics a
training-data pipeline computes before filtering — token counts,
quality scores, language ID, fingerprints. Everything is built from
JVM-side expressions (split / explode / aggregate / md5); no Python
UDFs, so the whole module stays inside whole-stage codegen and
scales linearly with a parquet scan.

Tokenizer note: the corpus is lowercase space-separated words, but
all queries tokenize defensively with ``[^a-z0-9]+`` so they behave
on real text too; the reference's Unicode-letter tokenizer lives in
queries/reference_parity.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

import pandas as pd

from my_mapreduce_spark.functions.text import tokens
from my_mapreduce_spark.io import load_table, widen_unsplittable_scan
from my_mapreduce_spark.registry import register

# Tiny stopword inventories per language for the lang-ID heuristic.
# Deliberately small and fixed so the SQL oracle can embed the same
# lists verbatim.
_STOPWORDS = {
    "en": ("the", "a", "of", "to", "and", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "fr": ("le", "la", "les", "et", "est", "un"),
    "es": ("el", "la", "los", "y", "es", "un"),
}


@register(
    "q_text_stats",
    oracle="""
    WITH t AS (
        SELECT doc_id, n_chars,
               list_filter(regexp_split_to_array(text, '[^a-z0-9]+'), x -> x <> '') AS w
        FROM documents)
    SELECT doc_id,
           n_chars,
           len(w)                                            AS n_words,
           len(list_distinct(w))                             AS n_distinct_words,
           ROUND(len(list_distinct(w)) * 1.0 / len(w), 6)    AS type_token_ratio,
           ROUND(list_sum(list_transform(w, x -> length(x))) * 1.0 / len(w), 6)
                                                             AS avg_word_len
    FROM t
    """,
    tags=("text", "stats"),
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lexical statistics: word/type counts, type-token
    ratio, mean word length."""
    docs = load_table(spark, sf_dir, "documents")
    w = tokens()
    return docs.select(
        "doc_id", "n_chars",
        F.size(w).alias("n_words"),
        F.size(F.array_distinct(w)).alias("n_distinct_words"),
        F.round(F.size(F.array_distinct(w)) / F.size(w), 6).alias("type_token_ratio"),
        F.round(
            F.aggregate(w, F.lit(0), lambda acc, x: acc + F.length(x)) / F.size(w), 6
        ).alias("avg_word_len"),
    )


@register(
    "q_token_count",
    oracle="""
    WITH t AS (
        SELECT doc_id, text,
               list_filter(regexp_split_to_array(text, '[^a-z0-9]+'), x -> x <> '') AS w
        FROM documents)
    SELECT doc_id,
           len(w)                                                   AS ws_tokens,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS regex_tokens,
           CAST(list_sum(list_transform(w, x -> CAST(ceil(length(x) / 4.0) AS BIGINT)))
                AS BIGINT)                                           AS subword_est
    FROM t
    """,
    tags=("text", "tokens"),
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace-ish tokens, a BPE-style
    regex lexer count, and a subword estimate (≈1 token per 4 chars,
    the usual LLM budgeting rule)."""
    docs = load_table(spark, sf_dir, "documents")
    w = tokens()
    return docs.select(
        "doc_id",
        F.size(w).alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(r"[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)).alias(
            "regex_tokens"),
        F.aggregate(
            w, F.lit(0).cast("bigint"),
            lambda acc, x: acc + F.ceil(F.length(x) / 4.0)
        ).alias("subword_est"),
    )


@register(
    "q_quality_score",
    oracle="""
    WITH t AS (
        SELECT doc_id, lang, n_chars,
               list_filter(regexp_split_to_array(text, '[^a-z0-9]+'), x -> x <> '') AS w
        FROM documents),
    m AS (
        SELECT doc_id, lang,
               LEAST(n_chars, 400) AS nc,
               len(w) AS n_words,
               len(list_filter(w, x -> list_contains(
                   ['the','a','of','to','and','in','is'], x))) AS n_stop,
               len(list_distinct(w)) AS n_distinct
        FROM t)
    SELECT doc_id, lang,
           ((2 * n_stop * 1000000 + n_words)
            // (2 * n_words)) / 1e6                    AS stopword_ratio,
           ((2 * (n_words - n_distinct) * 1000000 + n_words)
            // (2 * n_words)) / 1e6                    AS repetition_ratio,
           ((2 * nc * 1000000 + 400) // 800) / 1e6     AS length_score,
           ((2 * (4 * nc * n_words + 1200 * (n_stop + n_distinct))
               * 1000000 + 4000 * n_words)
            // (2 * 4000 * n_words)) / 1e6             AS quality
    FROM m
    """,
    tags=("text", "quality"),
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document-quality scoring: stopword ratio (natural-
    language-ness), repetition, length saturation, and a weighted
    composite — the classic pre-training filter features.

    Every output is an exact integer RATIONAL rounded half-up at 6 dp
    in bigint arithmetic ((2*p*10^6 + q) DIV (2*q) / 1e6): the naive
    float composite (0.4*a + 0.3*b + 0.3*c, then ROUND) landed on
    opposite sides of the 6-dp boundary between engines at sf0.1 —
    the associativity/FMA seam. The composite folds to the single
    rational (4*nc*nw + 1200*(ns+nd)) / (4000*nw) with nc clamped at
    400, so there is no float anywhere before the final /1e6."""
    docs = load_table(spark, sf_dir, "documents")
    w = tokens()
    stops = F.array(*[F.lit(s) for s in _STOPWORDS["en"]])
    m = docs.select(
        "doc_id", "lang",
        F.least(F.col("n_chars"), F.lit(400)).alias("nc"),
        F.size(w).alias("nw"),
        F.size(F.filter(w, lambda x: F.array_contains(stops, x))).alias("ns"),
        F.size(F.array_distinct(w)).alias("nd"))
    # all numerators are >= 0, so bigint DIV is exact half-up
    m = m.withColumn("qual_p",
                     4 * F.col("nc") * F.col("nw")
                     + 1200 * (F.col("ns") + F.col("nd")))
    return m.select(
        "doc_id", "lang",
        (F.expr("(2 * ns * 1000000 + nw) DIV (2 * nw)") / 1e6)
        .alias("stopword_ratio"),
        (F.expr("(2 * (nw - nd) * 1000000 + nw) DIV (2 * nw)") / 1e6)
        .alias("repetition_ratio"),
        (F.expr("(2 * nc * 1000000 + 400) DIV 800") / 1e6)
        .alias("length_score"),
        (F.expr("(2 * qual_p * 1000000 + 4000 * nw) DIV (2 * 4000 * nw)")
         / 1e6).alias("quality"))


@register(
    "q_lang_id",
    oracle="""
    WITH t AS (
        SELECT doc_id, lang,
               list_filter(regexp_split_to_array(text, '[^a-z0-9]+'), x -> x <> '') AS w
        FROM documents),
    s AS (
        SELECT doc_id, lang,
               len(list_filter(w, x -> list_contains(['the','a','of','to','and','in','is'], x))) AS s_en,
               len(list_filter(w, x -> list_contains(['der','die','das','und','ist','ein'], x))) AS s_de,
               len(list_filter(w, x -> list_contains(['le','la','les','et','est','un'], x)))     AS s_fr,
               len(list_filter(w, x -> list_contains(['el','la','los','y','es','un'], x)))       AS s_es
        FROM t),
    p AS (
        SELECT lang,
               CASE WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 THEN 'unknown'
                    WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
                    WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
                    WHEN s_fr >= s_es THEN 'fr'
                    ELSE 'es' END AS predicted
        FROM s)
    SELECT lang, predicted, COUNT(*) AS n_docs
    FROM p GROUP BY lang, predicted
    """,
    tags=("text", "lang-id"),
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-overlap language ID (n-gram-free variant suited to
    the fixture's space-separated corpus) with a fixed tie-break
    order, reported as a label-vs-prediction confusion matrix."""
    docs = load_table(spark, sf_dir, "documents")
    w = tokens()

    def score(lang: str) -> Column:
        arr = F.array(*[F.lit(s) for s in _STOPWORDS[lang]])
        return F.size(F.filter(w, lambda x: F.array_contains(arr, x)))

    s_en, s_de, s_fr, s_es = score("en"), score("de"), score("fr"), score("es")
    predicted = (
        F.when((s_en == 0) & (s_de == 0) & (s_fr == 0) & (s_es == 0), "unknown")
        .when((s_en >= s_de) & (s_en >= s_fr) & (s_en >= s_es), "en")
        .when((s_de >= s_fr) & (s_de >= s_es), "de")
        .when(s_fr >= s_es, "fr")
        .otherwise("es")
    )
    return (docs.select("lang", predicted.alias("predicted"))
            .groupBy("lang", "predicted")
            .agg(F.count(F.lit(1)).alias("n_docs")))


@register(
    "q_doc_fingerprint",
    oracle="""
    WITH t AS (
        SELECT doc_id, text,
               list_filter(regexp_split_to_array(text, '[^a-z0-9]+'), x -> x <> '') AS w
        FROM documents),
    s AS (
        SELECT doc_id, array_to_string(w[i:i+2], ' ') AS sh
        FROM t, UNNEST(range(1, len(w) - 1)) AS u(i)
        WHERE len(w) >= 3)
    SELECT t.doc_id,
           md5(t.text)        AS content_md5,
           mins.min_shingle   AS min_shingle_hash
    FROM t JOIN (SELECT doc_id, MIN(md5(sh)) AS min_shingle FROM s GROUP BY doc_id) mins
      ON t.doc_id = mins.doc_id
    """,
    tags=("text", "fingerprint"),
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints: full-text md5 plus the minimum 3-gram
    shingle hash (a 1-permutation MinHash — the rolling-hash
    'winnowing' building block). Docs with <3 tokens are dropped on
    both sides (no shingle exists)."""
    docs = load_table(spark, sf_dir, "documents")
    withw = docs.select("doc_id", "text", tokens().alias("w")).where(F.size("w") >= 3)
    shingles = F.transform(
        F.sequence(F.lit(0), F.size("w") - 3),
        lambda i: F.concat_ws(" ", F.slice(F.col("w"), i + 1, 3)),
    )
    return withw.select(
        "doc_id",
        F.md5("text").alias("content_md5"),
        F.array_min(F.transform(shingles, F.md5)).alias("min_shingle_hash"),
    )


@register(
    "q_lang_stats",
    oracle="""
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           ROUND(AVG(n_chars), 4) AS avg_chars
    FROM documents
    GROUP BY lang, source
    """,
    tags=("text", "stats"),
)
def q_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition rollup by language × source — the shape of
    every dataset-card table."""
    docs = load_table(spark, sf_dir, "documents")
    return (docs.groupBy("lang", "source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").alias("total_chars"),
                 F.round(F.avg("n_chars"), 4).alias("avg_chars")))


@register(
    "q_bigram_pmi",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '[^a-z0-9]+'),
                           x -> x <> '') AS ws
        FROM documents),
    tok AS (SELECT u.w FROM t, UNNEST(ws) AS u(w)),
    uni AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
    n AS (SELECT COUNT(*) AS n_tok FROM tok),
    big AS (
        SELECT ws[i] AS w1, ws[i + 1] AS w2, COUNT(*) AS c_ab
        FROM t, UNNEST(range(1, len(ws))) AS u(i)
        GROUP BY 1, 2),
    m AS (SELECT SUM(c_ab) AS n_big FROM big)
    SELECT w1, w2, c_ab,
           ROUND(log10((c_ab * 1.0 / m.n_big)
                 / ((x.c * 1.0 / n.n_tok) * (y.c * 1.0 / n.n_tok))), 6) AS pmi
    FROM big JOIN uni x ON w1 = x.w JOIN uni y ON w2 = y.w
    CROSS JOIN n CROSS JOIN m
    WHERE c_ab >= 20
    """,
    tags=("text", "collocation", "pmi"),
)
def q_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: pointwise mutual information of adjacent
    word pairs occurring >= 20 times — the classic phrase-detection
    signal (high PMI = 'new york'-style units worth a single token).

    Bigrams come from zipping each token array against itself
    shifted by one (array HOF, no positional self-join); unigram and
    bigram totals are 1-row broadcast scalars. Two token-keyed hash
    aggs + two broadcastable frequency joins — linear at 100 TB.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = tokens()
    tok = docs.select(F.explode(w).alias("w"))
    uni = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    n_tok = tok.agg(F.count(F.lit(1)).alias("n_tok"))
    big = (docs.select(F.explode(
               F.zip_with(F.slice(w, 1, F.greatest(F.size(w) - 1, F.lit(0))),
                          F.slice(w, 2, F.greatest(F.size(w) - 1, F.lit(0))),
                          lambda x, y: F.struct(x.alias("w1"), y.alias("w2"))))
               .alias("bg"))
           .select("bg.w1", "bg.w2")
           .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_ab")))
    n_big = big.agg(F.sum("c_ab").alias("n_big"))
    pmi = F.log10((F.col("c_ab") / F.col("n_big"))
                  / ((F.col("x.c") / F.col("n_tok"))
                     * (F.col("y.c") / F.col("n_tok"))))
    return (big.where(F.col("c_ab") >= 20)
            .join(uni.alias("x"), F.col("w1") == F.col("x.w"))
            .join(uni.alias("y"), F.col("w2") == F.col("y.w"))
            .crossJoin(F.broadcast(n_tok))
            .crossJoin(F.broadcast(n_big))
            .select("w1", "w2", "c_ab", F.round(pmi, 6).alias("pmi")))


_DRIFT_TOP = 15


@register(
    "q_term_drift_logodds",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               UNNEST(list_filter(
                   regexp_split_to_array(text, '[^a-z0-9]+'),
                   x -> x <> '')) AS token
        FROM documents),
    mid AS (SELECT (MIN(doc_id) + MAX(doc_id)) // 2 AS m FROM documents),
    cnt AS (
        SELECT token,
               CAST(SUM(CASE WHEN doc_id <= (SELECT m FROM mid)
                             THEN 1 ELSE 0 END) AS BIGINT) AS c1,
               CAST(SUM(CASE WHEN doc_id > (SELECT m FROM mid)
                             THEN 1 ELSE 0 END) AS BIGINT) AS c2
        FROM t GROUP BY token),
    tot AS (SELECT SUM(c1) AS n1, SUM(c2) AS n2, COUNT(*) AS v FROM cnt),
    scored AS (
        SELECT token, c1, c2,
               ln((c1 + 1.0) / (n1 + v)) - ln((c2 + 1.0) / (n2 + v))
                   AS lor
        FROM cnt CROSS JOIN tot),
    up AS (
        SELECT 'rising' AS direction, token, c1, c2, ROUND(lor, 6) AS lor,
               ROW_NUMBER() OVER (ORDER BY lor DESC, token) AS rnk
        FROM scored),
    down AS (
        SELECT 'falling' AS direction, token, c1, c2, ROUND(lor, 6) AS lor,
               ROW_NUMBER() OVER (ORDER BY lor ASC, token) AS rnk
        FROM scored)
    SELECT * FROM up WHERE rnk <= {_DRIFT_TOP}
    UNION ALL
    SELECT * FROM down WHERE rnk <= {_DRIFT_TOP}
    """,
    tags=("text", "drift", "stats"),
)
def q_term_drift_logodds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top rising/falling terms between the corpus's first and second
    half (by doc_id, the ingest axis): smoothed log-odds-ratio
    ``ln((c1+1)/(n1+V)) − ln((c2+1)/(n2+V))`` — the vocabulary-drift
    report that catches topic shift, scraper breakage, and spam
    bursts, complementing the distribution-level monitors
    (q_source_kl_divergence, q_zipf_slope) with term-level names.

    One token agg with conditional sums (vocabulary-bounded), one
    3-scalar total row broadcast, two rank windows over
    vocabulary-cardinality rows (the bound of the min-count
    vocabulary q_vocab_rank_scalable ranks), sort+limit output.
    """
    docs = load_table(spark, sf_dir, "documents")
    mid = docs.agg(((F.min("doc_id") + F.max("doc_id"))
                    / F.lit(2)).cast("bigint").alias("m"))
    t = docs.select("doc_id", F.explode(tokens()).alias("token"))
    cnt = (t.crossJoin(F.broadcast(mid))
           .groupBy("token")
           .agg(F.sum(F.when(F.col("doc_id") <= F.col("m"), 1)
                      .otherwise(0)).alias("c1"),
                F.sum(F.when(F.col("doc_id") > F.col("m"), 1)
                      .otherwise(0)).alias("c2")))
    tot = cnt.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"),
                  F.count(F.lit(1)).alias("v"))
    scored = (cnt.crossJoin(F.broadcast(tot))
              .select("token", "c1", "c2",
                      (F.log((F.col("c1") + 1.0) / (F.col("n1") + F.col("v")))
                       - F.log((F.col("c2") + 1.0)
                               / (F.col("n2") + F.col("v")))).alias("lor")))
    w_up = Window.orderBy(F.col("lor").desc(), "token")
    w_dn = Window.orderBy(F.col("lor").asc(), "token")
    up = (scored.withColumn("rnk", F.row_number().over(w_up))
          .where(F.col("rnk") <= _DRIFT_TOP)
          .select(F.lit("rising").alias("direction"), "token", "c1", "c2",
                  F.round("lor", 6).alias("lor"), "rnk"))
    down = (scored.withColumn("rnk", F.row_number().over(w_dn))
            .where(F.col("rnk") <= _DRIFT_TOP)
            .select(F.lit("falling").alias("direction"), "token", "c1",
                    "c2", F.round("lor", 6).alias("lor"), "rnk"))
    return up.unionAll(down)


@register(
    "q_lang_id_trigram",
    oracle="""
    WITH tri AS (
        SELECT doc_id, lang,
               substr(lower(text), i, 3) AS tri
        FROM documents,
             UNNEST(range(1, length(text) - 1)) AS t(i)),
    dtc AS (SELECT doc_id, lang, tri, COUNT(*) AS c
            FROM tri GROUP BY 1, 2, 3),
    dn AS (SELECT doc_id, sqrt(SUM(c * c)) AS dnorm
           FROM dtc GROUP BY 1),
    cent AS (SELECT lang AS clang, tri, SUM(c) AS l
             FROM dtc GROUP BY 1, 2),
    cn AS (SELECT clang, sqrt(SUM(l * l)) AS cnorm
           FROM cent GROUP BY 1),
    dots AS (
        SELECT dtc.doc_id, dtc.lang, cent.clang,
               SUM(dtc.c * cent.l) AS dot
        FROM dtc JOIN cent USING (tri)
        GROUP BY 1, 2, 3),
    cos AS (
        SELECT dots.doc_id, dots.lang, dots.clang,
               ROUND(dot / (dn.dnorm * cn.cnorm), 6) AS cos
        FROM dots JOIN dn USING (doc_id) JOIN cn USING (clang)),
    pred AS (
        SELECT lang, clang AS predicted,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY cos DESC, clang) AS rnk
        FROM cos)
    SELECT lang, predicted, COUNT(*) AS n_docs
    FROM pred WHERE rnk = 1
    GROUP BY 1, 2
    """,
    tags=("text", "lang-id", "classification"),
)
def q_lang_id_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-trigram cosine language ID — the production-real langid
    shape (q_lang_id's stopword overlap needs curated lists; trigram
    profiles train themselves from labeled data): each doc's trigram
    count vector is scored against every language centroid by sparse
    cosine, argmax wins, reported as a label-vs-prediction confusion
    matrix.

    Scale shape: ONE corpus-bytes shuffle, total. The docs relation
    is hash-repartitioned by doc_id BEFORE the explode, which
    declares a partitioning that every doc-keyed step downstream
    satisfies: the (doc, tri) count agg, the doc-norm agg, the
    post-broadcast dot-product agg, the dn join, and the final
    per-doc argmax window all run exchange-free (doc_id is a subset
    of each one's keys). The (doc, tri, c) relation is computed once
    and cached (caller-released, caching.py) instead of re-exploded
    for each consumer. The centroid table is the only other shuffle —
    (langs × ~30³) rows after map-side partial agg — and is
    BROADCAST for the dot-product join, so the corpus side never
    shuffles by trigram. Doc vectors stay as (doc, tri, c) rows
    (never densified). Cosines are rounded to 6dp BEFORE the argmax
    so last-ulp float-summation differences between engines collapse
    before they can flip a ranking (tie → lang name).
    """
    docs = (load_table(spark, sf_dir, "documents")
            .select("doc_id", "lang", "text")
            .repartition(F.col("doc_id")))
    tri = docs.select(
        "doc_id", "lang",
        F.explode(F.expr(
            # guard: for length(text) < 3 Spark's sequence(1, len-2)
            # would default to step -1 and fabricate positions the
            # oracle's range() (empty there) does not have
            "IF(length(text) >= 3, "
            "transform(sequence(1, length(text) - 2), "
            "i -> substring(lower(text), i, 3)), "
            "CAST(array() AS array<string>))")).alias("tri"))
    dtc = (tri.groupBy("doc_id", "lang", "tri")
           .agg(F.count(F.lit(1)).alias("c"))
           .persist())
    dn = dtc.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("dnorm"))
    cent = dtc.groupBy(F.col("lang").alias("clang"), "tri") \
        .agg(F.sum("c").alias("l"))
    cn = cent.groupBy("clang").agg(
        F.sqrt(F.sum(F.col("l") * F.col("l"))).alias("cnorm"))
    dots = (dtc.join(F.broadcast(cent), "tri")
            .groupBy("doc_id", "lang", "clang")
            .agg(F.sum(F.col("c") * F.col("l")).alias("dot")))
    cos = (dots.join(dn, "doc_id").join(F.broadcast(cn), "clang")
           .select("doc_id", "lang", "clang",
                   F.round(F.col("dot") / (F.col("dnorm") * F.col("cnorm")),
                           6).alias("cos")))
    w = Window.partitionBy("doc_id").orderBy(F.col("cos").desc(), "clang")
    return (cos.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") == 1)
            .groupBy("lang", F.col("clang").alias("predicted"))
            .agg(F.count(F.lit(1)).alias("n_docs")))


@register(
    "q_classifier_metrics",
    oracle="""
    WITH t AS (
        SELECT doc_id, lang,
               list_filter(regexp_split_to_array(text, '[^a-z0-9]+'), x -> x <> '') AS w
        FROM documents),
    s AS (
        SELECT doc_id, lang,
               len(list_filter(w, x -> list_contains(['the','a','of','to','and','in','is'], x))) AS s_en,
               len(list_filter(w, x -> list_contains(['der','die','das','und','ist','ein'], x))) AS s_de,
               len(list_filter(w, x -> list_contains(['le','la','les','et','est','un'], x)))     AS s_fr,
               len(list_filter(w, x -> list_contains(['el','la','los','y','es','un'], x)))       AS s_es
        FROM t),
    p AS (
        SELECT lang,
               CASE WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 THEN 'unknown'
                    WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
                    WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
                    WHEN s_fr >= s_es THEN 'fr'
                    ELSE 'es' END AS predicted
        FROM s),
    cm AS (SELECT lang, predicted, CAST(COUNT(*) AS BIGINT) AS n
           FROM p GROUP BY 1, 2),
    classes AS (SELECT DISTINCT lang AS cls FROM cm
                UNION SELECT DISTINCT predicted FROM cm),
    rs AS (SELECT lang AS cls, CAST(SUM(n) AS BIGINT) AS r
           FROM cm GROUP BY 1),
    cs AS (SELECT predicted AS cls, CAST(SUM(n) AS BIGINT) AS c
           FROM cm GROUP BY 1),
    dg AS (SELECT lang AS cls, CAST(SUM(n) AS BIGINT) AS tp
           FROM cm WHERE lang = predicted GROUP BY 1),
    j AS (
        SELECT classes.cls,
               COALESCE(dg.tp, 0) AS tp,
               COALESCE(cs.c, 0) - COALESCE(dg.tp, 0) AS fp,
               COALESCE(rs.r, 0) - COALESCE(dg.tp, 0) AS fn
        FROM classes
        LEFT JOIN dg ON classes.cls = dg.cls
        LEFT JOIN rs ON classes.cls = rs.cls
        LEFT JOIN cs ON classes.cls = cs.cls)
    SELECT cls, tp, fp, fn,
           CASE WHEN tp + fp > 0
                THEN ROUND(tp * 1.0 / (tp + fp), 6) END AS precision,
           CASE WHEN tp + fn > 0
                THEN ROUND(tp * 1.0 / (tp + fn), 6) END AS recall,
           CASE WHEN 2 * tp + fp + fn > 0
                THEN ROUND(2.0 * tp / (2 * tp + fp + fn), 6) END AS f1
    FROM j
    """,
    tags=("text", "ml-eval", "classifier", "confusion"),
)
def q_classifier_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision / recall / F1 for the stopword language
    classifier, derived from q_lang_id's confusion matrix (reused
    directly — the composition contract, like q_leakage_free_split
    over q_dedup_clusters): tp from the diagonal, fp/fn from the
    prediction/label marginals, F1 as the single-formula
    2tp/(2tp+fp+fn); undefined metrics (zero denominators — e.g.
    'zh', which the 4-language classifier can never predict) are
    NULL, not 0, so a silent never-predicted class is visible. All
    inputs are exact integer counts; every ratio rounds once.

    Scale shape: everything downstream of the classifier runs on
    the confusion matrix — a classes² relation, broadcast-sized at
    any corpus scale; the corpus itself is touched exactly once by
    the reused classifier scan. This is the standard eval harness
    shape: metrics cost O(classes²), not O(data). Reference parity:
    none; north-star §2D ML-eval depth closing the loop with
    q_roc_auc (ranking) and q_gains_table (calibration).
    """
    cm = q_lang_id(spark, sf_dir).withColumnRenamed("n_docs", "n")
    classes = (cm.select(F.col("lang").alias("cls"))
               .union(cm.select("predicted")).distinct())
    rs = cm.groupBy(F.col("lang").alias("cls")).agg(F.sum("n").alias("r"))
    cs = (cm.groupBy(F.col("predicted").alias("cls"))
          .agg(F.sum("n").alias("c")))
    dg = (cm.where(F.col("lang") == F.col("predicted"))
          .groupBy(F.col("lang").alias("cls"))
          .agg(F.sum("n").alias("tp")))
    j = (classes
         .join(F.broadcast(dg), "cls", "left")
         .join(F.broadcast(rs), "cls", "left")
         .join(F.broadcast(cs), "cls", "left")
         .select("cls",
                 F.coalesce("tp", F.lit(0)).alias("tp"),
                 (F.coalesce("c", F.lit(0))
                  - F.coalesce("tp", F.lit(0))).alias("fp"),
                 (F.coalesce("r", F.lit(0))
                  - F.coalesce("tp", F.lit(0))).alias("fn")))
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    return j.select(
        "cls", "tp", "fp", "fn",
        F.when(tp + fp > 0, F.round(tp / (tp + fp), 6)).alias("precision"),
        F.when(tp + fn > 0, F.round(tp / (tp + fn), 6)).alias("recall"),
        F.when(2 * tp + fp + fn > 0,
               F.round(2.0 * tp / (2 * tp + fp + fn), 6)).alias("f1"))


def _byte_entropy_udf():
    """Vectorized scalar pandas_udf: per-string Shannon entropy over
    UTF-8 bytes, in bits/byte [0, 8]. The numpy path (one bincount +
    one log2 per row, Arrow-batched) is ~100x a row-at-a-time Python
    UDF and is the engine's scalar-pandas_udf surface pin — the one
    UDF tier not exercised by mapInPandas (multimodal, compression)
    or applyInPandas (tiled cosine) elsewhere. Kept module-level so
    tests import the same function object the query uses."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def byte_entropy(texts: pd.Series) -> pd.Series:
        out = np.zeros(len(texts))
        for i, t in enumerate(texts):
            if t is None or len(t) == 0:
                out[i] = float("nan") if t is None else 0.0
                continue
            counts = np.bincount(
                np.frombuffer(t.encode("utf-8"), dtype=np.uint8))
            p = counts[counts > 0] / counts.sum()
            out[i] = float(-(p * np.log2(p)).sum())
        return pd.Series(out)

    return byte_entropy


@register(
    "q_byte_entropy_vectorized",
    oracle=None,  # float log2 sums have no cross-engine bit contract;
    # the invariants + Arrow-plan pins live in tests/test_byte_entropy.py
    tags=("text", "quality", "pandas-udf", "no-oracle"),
)
def q_byte_entropy_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document byte-level Shannon entropy (bits/byte) via a
    VECTORIZED scalar pandas_udf, rolled up per source as a
    binary-garbage/encoding-health screen: natural-language text
    sits ~4-4.8 bits/byte, base64/compressed/binary junk pushes
    toward 8, and repeated-filler spam drops toward 0 — the cheap
    complement to q_compression_ratio (zlib measures REDUNDANCY
    including cross-byte structure; entropy here is the
    order-free distribution bound, and the GAP between them is the
    structure signal). No oracle by design: the log2 term sum has
    no cross-engine bit contract (same reason q_compression_ratio
    is no-oracle); instead tests/test_byte_entropy.py pins exact
    closed-form cases (uniform alphabet = log2 k, single-char = 0),
    bounds, batch-size/partitioning invariance, and that the plan
    runs ArrowEvalPython (the vectorized path), not row-at-a-time
    BatchEvalPython.

    Scale shape: embarrassingly parallel — one Arrow-batched scan,
    zero shuffle before the per-source rollup; per-row cost is one
    256-bin bincount. Reference parity: none; north-star §2D
    text-quality depth.
    """
    docs = load_table(spark, sf_dir, "documents")
    # the entropy UDF fuses into the unsplittable scan's one task —
    # widen so the Arrow batches spread across cores (no-op on
    # properly split input)
    docs = widen_unsplittable_scan(docs.select("doc_id", "source", "text"))
    ent = _byte_entropy_udf()(F.col("text")).alias("h")
    per_doc = docs.select("source", ent)
    return (per_doc.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.round(F.avg("h"), 4).alias("avg_entropy"),
                 F.round(F.min("h"), 4).alias("min_entropy"),
                 F.round(F.max("h"), 4).alias("max_entropy")))


@register(
    "q_sentence_centrality",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS w
        FROM documents),
    pos AS (
        SELECT doc_id, CAST(UNNEST(range(1, len(w) + 1)) AS BIGINT) AS p, w
        FROM toks),
    tok AS (
        SELECT DISTINCT doc_id,
               CAST((p - 1) // 8 + 1 AS BIGINT) AS sid,
               w[CAST(p AS INT)] AS t
        FROM pos),
    edge AS (
        SELECT DISTINCT a.doc_id, a.sid AS i, b.sid AS j
        FROM tok a
        JOIN tok b ON a.doc_id = b.doc_id AND a.t = b.t AND a.sid < b.sid),
    sym AS (SELECT doc_id, i, j FROM edge
            UNION ALL SELECT doc_id, j AS i, i AS j FROM edge),
    deg AS (SELECT doc_id, i, CAST(COUNT(*) AS BIGINT) AS deg
            FROM sym GROUP BY 1, 2),
    c2 AS (
        SELECT s.doc_id, s.i, CAST(SUM(d.deg) AS BIGINT) AS c2
        FROM sym s
        JOIN deg d ON s.doc_id = d.doc_id AND s.j = d.i
        GROUP BY 1, 2),
    r AS (
        SELECT deg.doc_id, deg.i AS sid, deg.deg, c2.c2,
               ROW_NUMBER() OVER (PARTITION BY deg.doc_id
                   ORDER BY c2.c2 DESC, deg.deg DESC, deg.i) AS rnk
        FROM deg JOIN c2 ON deg.doc_id = c2.doc_id AND deg.i = c2.i)
    SELECT doc_id, sid, deg, c2, rnk FROM r WHERE rnk <= 3
    """,
    tags=("text", "summarization", "centrality", "graph"),
)
def q_sentence_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extractive-summary candidate ranking: per document, segments
    are nodes (fixed-width 8-token pseudo-sentences — the synthetic
    corpus carries no sentence punctuation, so segmentation is
    positional; with punctuated text the split expression changes
    and NOTHING else does), an edge connects two segments sharing
    ≥ 1 token, and
    each sentence is scored by 2-hop degree centrality (deg = how
    many segments it overlaps; c2 = Σ neighbor degrees — the
    integer-exact second power-iteration step of TextRank on the
    unweighted graph, before normalization turns scores into
    floats). The top-3 per doc are the summary candidates. Every
    score is an exact integer, so the ranking is bit-stable — no
    damping-factor float fixpoint to diverge across engines.

    Scale shape: segmentation is array-local positional arithmetic
    (one corpus scan, no cross-doc state); the edge
    join is keyed (doc_id, token) — candidate pairs only within a
    document sharing a token, never a doc × doc product; deg/c2 are
    hash aggregates on edge rows; the final top-3 window partitions
    by doc_id (bounded by sentences-per-doc). Memory per key is
    O(sentence pairs within one doc). Reference parity: none —
    north-star §2D text depth (the summarization precursor next to
    q_tfidf_top_terms).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # widen the unsplittable scan (the posexplode fuses into it) and
    # persist tok: the segment self-join consumes it twice and its
    # aggregate shapes differ, so no exchange is reusable (caller
    # releases, caching.py contract)
    docs = widen_unsplittable_scan(docs)
    tok = (docs.select(
               "doc_id",
               F.posexplode(tokens(F.lower("text"))).alias("pos", "t"))
           .select("doc_id",
                   (F.floor(F.col("pos") / 8) + 1).cast("bigint")
                   .alias("sid"), "t")
           .distinct().persist())
    a, b = tok.alias("a"), tok.alias("b")
    edge = (a.join(b, (F.col("a.doc_id") == F.col("b.doc_id"))
                   & (F.col("a.t") == F.col("b.t"))
                   & (F.col("a.sid") < F.col("b.sid")))
            .select(F.col("a.doc_id").alias("doc_id"),
                    F.col("a.sid").alias("i"), F.col("b.sid").alias("j"))
            .distinct())
    sym = edge.union(edge.select("doc_id", F.col("j").alias("i"),
                                 F.col("i").alias("j")))
    deg = sym.groupBy("doc_id", "i").agg(F.count(F.lit(1)).alias("deg"))
    c2 = (sym.join(deg.select(F.col("doc_id").alias("dd"),
                              F.col("i").alias("jj"),
                              F.col("deg").alias("dj")),
                   (F.col("doc_id") == F.col("dd"))
                   & (F.col("j") == F.col("jj")))
          .groupBy("doc_id", "i").agg(F.sum("dj").alias("c2")))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("c2").desc(), F.col("deg").desc(), "i")
    return (deg.join(c2, ["doc_id", "i"])
            .withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= 3)
            .select("doc_id", F.col("i").alias("sid"), "deg", "c2", "rnk"))


@register(
    "q_token_stats_arrow",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '[^a-z0-9]+'),
                           x -> x <> '') AS w,
               length(text) AS n_bytes
        FROM documents)
    SELECT doc_id,
           CAST(len(w) AS BIGINT) AS n_tokens,
           CAST(n_bytes AS BIGINT) AS n_bytes,
           CAST(len(list_distinct(w)) AS BIGINT) AS n_unique
    FROM t
    """,
    tags=("text", "tokenize", "arrow", "map-in-arrow"),
)
def q_token_stats_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token stats computed in ``mapInArrow`` with
    pyarrow.compute kernels — zero pandas materialization, the
    RecordBatch flows from Tungsten through Arrow C data straight
    into vectorized C++ kernels and back.

    Registered to pin the Arrow-NATIVE UDF surface: real tokenizers
    (BPE/SentencePiece bindings) consume Arrow string buffers
    directly, and this is their integration shape — batch in, batch
    out, no row loop, no pandas copy (the multimodal decode stubs in
    multimodal.py:50 sit behind the same plumbing one level up).
    The oracle proves the Arrow path computes exactly what the SQL
    tokenizer computes. Embarrassingly parallel: no shuffle at all —
    the plan is scan → ArrowEvalPython(mapInArrow) → project.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def stats(batches):
        for batch in batches:
            doc_id = batch.column("doc_id")
            text = batch.column("text")
            n_bytes = pc.binary_length(text)
            toks = pc.split_pattern_regex(text, "[^a-z0-9]+")
            # splitting may produce empty strings at the edges; drop
            # them the same way the SQL's list_filter does
            flat = pc.list_flatten(toks)
            keep = pc.not_equal(flat, "")
            parents = pc.list_parent_indices(toks)
            kept_parents = parents.filter(keep)
            kept_vals = flat.filter(keep)
            n_tokens = pa.table({"p": kept_parents}) \
                .group_by("p").aggregate([("p", "count")])
            uq = pa.table({"p": kept_parents, "v": kept_vals}) \
                .group_by(["p", "v"]).aggregate([]) \
                .group_by("p").aggregate([("p", "count")])
            n = len(doc_id)
            tok_counts = [0] * n
            for p, c in zip(n_tokens.column("p").to_pylist(),
                            n_tokens.column("p_count").to_pylist()):
                tok_counts[p] = c
            uq_counts = [0] * n
            for p, c in zip(uq.column("p").to_pylist(),
                            uq.column("p_count").to_pylist()):
                uq_counts[p] = c
            yield pa.RecordBatch.from_arrays(
                [doc_id, pa.array(tok_counts, pa.int64()),
                 n_bytes.cast(pa.int64()), pa.array(uq_counts, pa.int64())],
                names=["doc_id", "n_tokens", "n_bytes", "n_unique"])

    return docs.mapInArrow(
        stats, "doc_id long, n_tokens long, n_bytes long, n_unique long")
