"""Corpus-hygiene operators over ``documents`` (SURVEY.md §2D).

The pre-training data-curation steps that sit between raw crawl and
tokenizer: PII redaction, cross-document duplicate-ngram measurement
(the Gopher/MassiveText "dup n-gram fraction" filter), benchmark
decontamination (strip eval-set overlap from training data), and
winnowing fingerprints (the MOSS min-in-window scheme — the
position-robust variant of the min-shingle fingerprint in
text_analysis.py).

Scale posture (100 TB): every query is a linear scan plus
shingle/hash-partitioned shuffles — no all-pairs joins. The
decontamination benchmark set is broadcast (eval suites are MBs,
corpora are TBs). All hashing is md5 so the DuckDB oracles replicate
results bit-for-bit (functions/text.py rationale). No Python UDFs;
everything stays in whole-stage codegen.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from my_mapreduce_spark.functions.text import shingles, tokens
from my_mapreduce_spark.io import load_table, widen_unsplittable_scan
from my_mapreduce_spark.queries.dedup import _SHINGLES_CTE, _shingle_rows
from my_mapreduce_spark.registry import register

# PII patterns, deliberately restricted to syntax that means the same
# thing in Java regex (Spark) and RE2 (DuckDB): character classes,
# bounded repeats, and ASCII word boundaries only — no backrefs, no
# lookaround.
_PII_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PII_PHONE = r"\b555-[0-9]{4}\b"
_PII_IP = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"

# The fixture corpus is synthetic prose with no PII, so the query
# plants deterministic PII derived from doc_id and then removes it —
# the oracle replays the identical planting, making redaction counts
# and the scrubbed hash exactly checkable.
_PII_RAW_SQL = """
    text || ' contact u' || CAST(doc_id AS VARCHAR) ||
    '@example.com or 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
    ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
"""


@register(
    "q_pii_scrub",
    oracle=f"""
    WITH raw AS (
        SELECT doc_id, {_PII_RAW_SQL} AS raw FROM documents)
    SELECT doc_id,
           len(regexp_extract_all(raw, '{_PII_EMAIL}'))  AS n_email,
           len(regexp_extract_all(raw, '{_PII_PHONE}'))  AS n_phone,
           len(regexp_extract_all(raw, '{_PII_IP}'))     AS n_ip,
           md5(regexp_replace(regexp_replace(regexp_replace(raw,
               '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_PHONE}', '<PHONE>', 'g'),
               '{_PII_IP}', '<IP>', 'g'))                AS scrubbed_md5
    FROM raw
    """,
    tags=("corpus", "pii", "scrub"),
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: detect + mask emails, phone numbers, and IPv4
    addresses, reporting per-document redaction counts and the hash
    of the scrubbed text. One linear scan, three JVM regex passes —
    at 100 TB this is embarrassingly parallel with zero shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"), F.lit(" contact u"), F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" from 10.0."), (F.col("doc_id") % 256).cast("string"), F.lit(".7"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(raw, _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE, "<PHONE>"),
        _PII_IP, "<IP>")
    return docs.select(
        "doc_id",
        F.regexp_count(raw, F.lit(_PII_EMAIL)).alias("n_email"),
        F.regexp_count(raw, F.lit(_PII_PHONE)).alias("n_phone"),
        F.regexp_count(raw, F.lit(_PII_IP)).alias("n_ip"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    )


@register(
    "q_dup_ngram_fraction",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    d AS (SELECT shingle, COUNT(*) AS df FROM s GROUP BY shingle)
    SELECT s.doc_id,
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
           ROUND(SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
               AS shared_frac
    FROM s JOIN d USING (shingle)
    GROUP BY s.doc_id
    """,
    tags=("corpus", "dedup", "quality"),
)
def q_dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-ngram fraction (the Gopher/MassiveText repetition
    filter, cross-document form): for each document, the fraction of
    its distinct 3-gram shingles that also occur in at least one
    other document.

    Two shingle-partitioned hash aggregations plus one equi-join on
    the shingle key — the document-frequency relation is the same
    shuffle key as the probe side, so Catalyst co-locates them. No
    pairwise comparisons anywhere, so the cost stays linear in total
    shingle volume at 100 TB.
    """
    # persisted: df aggregate + join-back both consume the distinct
    # (doc_id, shingle) relation (caller releases, caching.py);
    # hashed: equality-only consumption, no string in the output
    s = _shingle_rows(spark, sf_dir, hashed=True).persist()
    df_counts = s.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    return (s.join(df_counts, "shingle")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_shingles"),
                 F.sum(F.when(F.col("df") >= 2, 1).otherwise(0)).alias("n_shared"),
                 F.round(F.sum(F.when(F.col("df") >= 2, 1).otherwise(0))
                         / F.count(F.lit(1)), 6).alias("shared_frac")))


@register(
    "q_decontaminate",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    bench AS (SELECT DISTINCT shingle FROM s WHERE doc_id % 97 = 0),
    cand AS (SELECT doc_id, shingle FROM s WHERE doc_id % 97 <> 0),
    tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM cand GROUP BY doc_id),
    hit AS (
        SELECT c.doc_id, COUNT(*) AS n_overlap
        FROM cand c JOIN bench b USING (shingle)
        GROUP BY c.doc_id)
    SELECT h.doc_id, t.n_shingles, h.n_overlap,
           ROUND(h.n_overlap * 1.0 / t.n_shingles, 6) AS overlap_frac
    FROM hit h JOIN tot t USING (doc_id)
    """,
    tags=("corpus", "decontamination"),
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    3-gram shingle with a held-out benchmark set (here: every 97th
    doc stands in for the eval suite), reporting overlap counts and
    fraction per contaminated document.

    The benchmark shingle set is broadcast — eval suites are MBs
    while the corpus is TBs, so the contamination probe is a
    broadcast hash join against the full scan, no shuffle of the big
    side. This is the industry-standard n-gram decontamination from
    the GPT-3/PaLM data cards, as a relational plan.
    """
    # persisted: the benchmark side, the candidate total, and the
    # overlap join all consume s (caller releases, caching.py);
    # hashed: the contamination probe is an equality join, and the
    # broadcast benchmark set is 8 bytes/shingle instead of a string
    s = _shingle_rows(spark, sf_dir, hashed=True).persist()
    bench = (s.where(F.col("doc_id") % 97 == 0)
             .select("shingle").distinct())
    cand = s.where(F.col("doc_id") % 97 != 0)
    tot = cand.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hit = (cand.join(F.broadcast(bench), "shingle")
           .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_overlap")))
    return (hit.join(tot, "doc_id")
            .select("doc_id", "n_shingles", "n_overlap",
                    F.round(F.col("n_overlap") / F.col("n_shingles"), 6)
                    .alias("overlap_frac")))


# Second level of the packing prefix sum: the per-bucket-totals
# relation flows through ONE task (a global-order window), so its row
# count must stay bounded regardless of corpus size. Target ~64k rows:
# width = ceil(n / 65536), floored at 1000 so small corpora still get
# full first-level parallelism.
_PACK_L2_TARGET = 1 << 16


def _pack_bucket_width(n_docs: int) -> int:
    """Bucket width keeping the 2nd-level relation <= _PACK_L2_TARGET rows."""
    return max(1000, -(-int(n_docs) // _PACK_L2_TARGET))


@register(
    "q_pack_sequences",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               len(list_filter(regexp_split_to_array(text, '[^a-z0-9]+'),
                               x -> x <> '')) AS n_tok
        FROM documents),
    c AS (
        SELECT doc_id, n_tok,
               SUM(n_tok) OVER (ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) - n_tok AS start_off
        FROM t)
    SELECT CAST(start_off // 512 AS BIGINT) AS pack_id,
           COUNT(*)                         AS n_docs,
           CAST(SUM(n_tok) AS BIGINT)       AS total_tokens,
           MIN(doc_id)                      AS first_doc
    FROM c GROUP BY 1
    """,
    tags=("corpus", "packing", "prefix-sum"),
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing: lay documents end-to-end in doc_id
    order and assign each to the 512-token window its first token
    lands in — the concat-and-chunk step that turns a filtered
    corpus into fixed-length training sequences.

    The global running offset is computed as a DISTRIBUTED prefix
    sum, not one giant window: (1) bucket docs by doc_id DIV width
    and prefix-sum WITHIN each bucket (window partitioned by bucket,
    shuffle-parallel); (2) prefix-sum the per-bucket totals — and
    broadcast it back as each bucket's base offset. A plain
    ``SUM() OVER (ORDER BY ...)`` with no partition would drag the
    full corpus through one task; this two-level scan is the classic
    fix.

    The second level is itself a single-task global window, so its
    input is BOUNDED by deriving the bucket width from the corpus
    count: ``width = max(1000, ceil(n / 65536))`` caps the bucket-
    totals relation at ~65k rows at ANY n. At a trillion docs the
    width is ~15.3M docs/bucket and the second level still sees only
    65,536 rows; the count() that sizes it is one column-pruned scan.
    Results are width-invariant (tested), so the env override
    ``SPARK_GRAFT_PACK_WIDTH`` exists for tests only. The oracle
    states the same result as the naive cumsum.
    """
    docs = load_table(spark, sf_dir, "documents")
    width = int(os.environ.get("SPARK_GRAFT_PACK_WIDTH", "0")) \
        or _pack_bucket_width(docs.count())
    t = docs.select(
        "doc_id", (F.col("doc_id") / width).cast("bigint").alias("bucket"),
        F.size(tokens()).alias("n_tok"))
    in_bucket = Window.partitionBy("bucket").orderBy("doc_id") \
        .rowsBetween(Window.unboundedPreceding, 0)
    local = t.withColumn("local_off", F.sum("n_tok").over(in_bucket) - F.col("n_tok"))
    bucket_tot = t.groupBy("bucket").agg(F.sum("n_tok").alias("btot"))
    prior = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    base = bucket_tot.select(
        "bucket", F.coalesce(F.sum("btot").over(prior), F.lit(0)).alias("base_off"))
    packed = (local.join(F.broadcast(base), "bucket")
              .select("doc_id", "n_tok",
                      ((F.col("base_off") + F.col("local_off")) / 512)
                      .cast("bigint").alias("pack_id")))
    return (packed.groupBy("pack_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tok").alias("total_tokens"),
                 F.min("doc_id").alias("first_doc")))


@register(
    "q_unigram_logprob",
    oracle="""
    WITH tok AS (
        SELECT doc_id, u.w
        FROM (SELECT doc_id,
                     list_filter(regexp_split_to_array(text, '[^a-z0-9]+'),
                                 x -> x <> '') AS ws
              FROM documents), UNNEST(ws) AS u(w)),
    freq AS (SELECT w, COUNT(*) AS cnt FROM tok GROUP BY w),
    tot AS (SELECT COUNT(*) AS n FROM tok)
    SELECT tok.doc_id,
           COUNT(*) AS n_tokens,
           ROUND(AVG(log10(freq.cnt * 1.0 / tot.n)), 6) AS avg_logprob,
           ROUND(MIN(log10(freq.cnt * 1.0 / tot.n)), 6) AS min_logprob
    FROM tok JOIN freq USING (w) CROSS JOIN tot
    GROUP BY tok.doc_id
    """,
    tags=("corpus", "quality", "language-model"),
)
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring: each document's mean and
    minimum log10 probability of its tokens under the corpus's own
    unigram distribution — the cheap stand-in for the CCNet/CCNet-
    style LM perplexity filter (low avg_logprob = gibberish or
    boilerplate outliers).

    Token instances are exploded once; the frequency table is a
    token-keyed hash agg joined back on the same key (co-located
    shuffle), and the corpus token total crosses to the driver as a
    single scalar broadcast. Linear in token volume at 100 TB.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens()).alias("w"))
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    total = tok.agg(F.count(F.lit(1)).alias("n"))
    logp = F.log10(F.col("cnt") / F.col("n"))
    return (tok.join(freq, "w")
            .crossJoin(F.broadcast(total))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.round(F.avg(logp), 6).alias("avg_logprob"),
                 F.round(F.min(logp), 6).alias("min_logprob")))


@register(
    "q_winnowing_fingerprints",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '[^a-z0-9]+'), x -> x <> '') AS w
        FROM documents),
    sh AS (
        SELECT doc_id, i - 1 AS pos, len(w) - 2 AS n_sh,
               md5(array_to_string(w[i:i+2], ' ')) AS h
        FROM t, UNNEST(range(1, len(w) - 1)) AS u(i)
        WHERE len(w) >= 3),
    wm AS (
        SELECT doc_id, pos, n_sh,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        FROM sh)
    SELECT doc_id,
           COUNT(DISTINCT fp) AS n_fingerprints,
           MIN(fp) AS min_fp,
           MAX(fp) AS max_fp
    FROM wm WHERE pos <= n_sh - 4
    GROUP BY doc_id
    """,
    tags=("corpus", "fingerprint", "winnowing"),
)
def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (the MOSS scheme): hash every
    3-gram shingle, slide a window of 4 consecutive shingle hashes,
    keep the minimum of each full window; the distinct minima are
    the document's fingerprints. Guarantees any shared run of >= 6
    tokens between two documents shares a fingerprint, at a ~1/4
    sample rate — the position-robust upgrade of q_doc_fingerprint's
    single min-shingle.

    Per-document window over a posexplode — partitioned by doc_id,
    so at 100 TB it is one shuffle keyed by document and the window
    never crosses partitions. Docs with fewer than 4 full windows
    (< 7 tokens) drop out on both sides.
    """
    docs = load_table(spark, sf_dir, "documents")
    withw = docs.select("doc_id", tokens().alias("w")).where(F.size("w") >= 3)
    sh = withw.select(
        "doc_id", (F.size("w") - 2).alias("n_sh"),
        F.posexplode(shingles(F.col("w"))).alias("pos", "sh"),
    ).select("doc_id", "n_sh", "pos", F.md5("sh").alias("h"))
    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
    return (sh.withColumn("fp", F.min("h").over(win))
            .where(F.col("pos") <= F.col("n_sh") - 4)
            .groupBy("doc_id")
            .agg(F.count_distinct("fp").alias("n_fingerprints"),
                 F.min("fp").alias("min_fp"),
                 F.max("fp").alias("max_fp")))


@register(
    "q_bigram_logprob",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '[^a-z0-9]+'),
                           x -> x <> '') AS ws
        FROM documents),
    bg AS (
        SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
        FROM t, UNNEST(range(1, len(ws))) AS u(i)),
    cnt_ab AS (SELECT w1, w2, COUNT(*) AS c_ab FROM bg GROUP BY 1, 2),
    cnt_a AS (SELECT w1, COUNT(*) AS c_a FROM bg GROUP BY 1)
    SELECT bg.doc_id,
           COUNT(*) AS n_bigrams,
           ROUND(AVG(log10(cnt_ab.c_ab * 1.0 / cnt_a.c_a)), 6) AS avg_cond_logprob
    FROM bg JOIN cnt_ab USING (w1, w2) JOIN cnt_a USING (w1)
    GROUP BY bg.doc_id
    """,
    tags=("corpus", "quality", "language-model"),
)
def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM scoring: each document's mean log10 conditional
    probability log p(w2|w1) = log(count(w1 w2) / count(w1 ·)) under
    the corpus's own bigram counts — the next step up from
    q_unigram_logprob toward the CCNet perplexity filter (documents
    whose word ORDER is unusual score low even when their vocabulary
    is normal).

    Bigram instances come from zipping each token array against its
    shift (no positional self-join); both frequency relations are
    token-keyed hash aggs joined back on their own grouping keys —
    co-located shuffles, linear at 100 TB.
    """
    from pyspark.sql import functions as F  # noqa: F811

    docs = widen_unsplittable_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    w = tokens()
    n1 = F.greatest(F.size(w) - 1, F.lit(0))
    # bg persisted: the two frequency aggregates and the join-back
    # all consume the exploded bigram relation with differing keys —
    # no reusable exchange (caller releases, caching.py contract)
    bg = (docs.select(
            "doc_id",
            F.explode(F.zip_with(F.slice(w, 1, n1), F.slice(w, 2, n1),
                                 lambda x, y: F.struct(x.alias("w1"),
                                                       y.alias("w2"))))
            .alias("b"))
          .select("doc_id", "b.w1", "b.w2").persist())
    cnt_ab = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_ab"))
    cnt_a = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c_a"))
    logp = F.log10(F.col("c_ab") / F.col("c_a"))
    return (bg.join(cnt_ab, ["w1", "w2"]).join(cnt_a, "w1")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.round(F.avg(logp), 6).alias("avg_cond_logprob")))


# Target corpus mixture for q_dataset_mixture: source -> desired share
# of the sampled dataset. Fixed so the oracle can restate it.
_MIX_TARGETS = (("src0", 0.40), ("src1", 0.30), ("src2", 0.20), ("src3", 0.10))


@register(
    "q_dataset_mixture",
    oracle=f"""
    WITH tgt(source, share) AS (VALUES {", ".join(f"('{s}', {p})" for s, p in _MIX_TARGETS)}),
    sz AS (SELECT source, COUNT(*) AS n_src FROM documents GROUP BY source),
    budget AS (SELECT MIN(n_src / share) AS total FROM sz JOIN tgt USING (source)),
    rate AS (
        SELECT sz.source, LEAST(tgt.share * budget.total / sz.n_src, 1.0) AS r,
               sz.n_src
        FROM sz JOIN tgt USING (source) CROSS JOIN budget),
    hit AS (
        SELECT d.source,
               CASE WHEN (CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
                          AS BIGINT) % 1000000) / 1000000.0 < rate.r
                    THEN 1 ELSE 0 END AS take,
               rate.n_src, rate.r
        FROM documents d JOIN rate ON d.source = rate.source)
    SELECT source, n_src,
           ROUND(r, 6) AS sample_rate,
           CAST(SUM(take) AS BIGINT) AS n_sampled
    FROM hit GROUP BY source, n_src, r
    """,
    tags=("corpus", "sampling", "mixture"),
)
def q_dataset_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset mixing: hit fixed target proportions per source (40/
    30/20/10) by computing, per source, the largest total budget the
    scarcest source supports, then sampling each source at
    share*budget/n_src with a DETERMINISTIC md5-threshold (same doc
    kept on every run/engine — reproducible mixtures are how
    training runs stay comparable). The rate table is rows-per-
    source tiny and broadcast; the scan never shuffles.
    """
    from pyspark.sql import functions as F  # noqa: F811

    docs = load_table(spark, sf_dir, "documents")
    tgt = docs.sparkSession.createDataFrame(
        list(_MIX_TARGETS), "source string, share double")
    sz = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_src"))
    budget = (sz.join(tgt, "source")
              .agg(F.min(F.col("n_src") / F.col("share")).alias("total")))
    rate = (sz.join(tgt, "source").crossJoin(F.broadcast(budget))
            .select("source", "n_src",
                    F.least(F.col("share") * F.col("total") / F.col("n_src"),
                            F.lit(1.0)).alias("r")))
    frac = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                   16, 10).cast("bigint") % 1000000) / 1000000.0
    return (docs.join(F.broadcast(rate), "source")
            .select("source", "n_src", "r",
                    F.when(frac < F.col("r"), 1).otherwise(0).alias("take"))
            .groupBy("source", "n_src", F.round("r", 6).alias("sample_rate"))
            .agg(F.sum("take").alias("n_sampled")))


@register(
    "q_source_kl_divergence",
    oracle="""
    WITH toks AS (
        SELECT source, unnest(list_filter(
                   regexp_split_to_array(text, '[^a-z0-9]+'),
                   x -> x <> '')) AS token
        FROM documents),
    tf_src AS (SELECT source, token, COUNT(*) AS c
               FROM toks GROUP BY source, token),
    tot_src AS (SELECT source, SUM(c) AS tot FROM tf_src GROUP BY source),
    tf_all AS (SELECT token, SUM(c) AS c_all FROM tf_src GROUP BY token),
    tot_all AS (SELECT SUM(c_all) AS tot_all FROM tf_all)
    SELECT s.source,
           ROUND(SUM((s.c * 1.0 / t.tot)
                     * ln((s.c * 1.0 / t.tot)
                          / (a.c_all * 1.0 / g.tot_all))), 6) AS kl,
           COUNT(*) AS n_distinct_tokens,
           CAST(MAX(t.tot) AS BIGINT) AS n_tokens
    FROM tf_src s
    JOIN tot_src t USING (source)
    JOIN tf_all a USING (token)
    CROSS JOIN tot_all g
    GROUP BY s.source
    """,
    tags=("corpus", "quality", "divergence"),
)
def q_source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shift monitor: KL(P_source || P_corpus) of the
    unigram token distribution, per source — the standard check that
    one ingest stream (a crawl slice, a new vendor dump) hasn't
    drifted from the corpus mixture before it's blended into
    training data. KL = sum_t p_s(t) * ln(p_s(t) / p(t)); every
    source token is by construction in the corpus, so the ratio is
    always finite.

    All relations are token- or source-keyed hash aggregates
    (map-side combined): per-(source, token) counts, per-source
    totals, per-token corpus counts, and one 1-row corpus total that
    broadcasts onto the scoring join. Nothing driver-side, nothing
    quadratic; at 100 TB this is two shuffles of the (source, token)
    relation — vocabulary-bounded, not corpus-bounded.
    """
    toks = (load_table(spark, sf_dir, "documents")
            .select("source", F.explode(tokens("text")).alias("token")))
    tf_src = toks.groupBy("source", "token").agg(F.count("*").alias("c"))
    tot_src = tf_src.groupBy("source").agg(F.sum("c").alias("tot"))
    tf_all = tf_src.groupBy("token").agg(F.sum("c").alias("c_all"))
    tot_all = tf_all.agg(F.sum("c_all").alias("tot_all"))

    p_s = F.col("c") / F.col("tot")
    p = F.col("c_all") / F.col("tot_all")
    return (tf_src
            .join(F.broadcast(tot_src), "source")
            .join(tf_all, "token")
            .crossJoin(F.broadcast(tot_all))
            .groupBy("source")
            .agg(F.round(F.sum(p_s * F.log(p_s / p)), 6).alias("kl"),
                 F.count("*").alias("n_distinct_tokens"),
                 F.max("tot").cast("bigint").alias("n_tokens")))


@register(
    "q_leakage_free_split",
    oracle=f"""
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
        SELECT e.dst, r.r FROM edges e JOIN reach r ON e.src = r.doc_id),
    labels AS (SELECT doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc_id),
    assigned AS (
        SELECT d.doc_id,
               COALESCE(l.cluster_id, d.doc_id) AS grp,
               CASE WHEN (CAST(('0x' || substr(md5(CAST(
                        COALESCE(l.cluster_id, d.doc_id) AS VARCHAR)), 1, 8))
                        AS BIGINT) % 1000000) / 1000000.0 < 0.8
                    THEN 'train' ELSE 'eval' END AS split,
               CASE WHEN (CAST(('0x' || substr(md5(CAST(
                        d.doc_id AS VARCHAR)), 1, 8))
                        AS BIGINT) % 1000000) / 1000000.0 < 0.8
                    THEN 'train' ELSE 'eval' END AS naive_split
        FROM documents d LEFT JOIN labels l USING (doc_id)),
    leaky AS (
        SELECT grp FROM assigned
        GROUP BY grp HAVING COUNT(DISTINCT naive_split) > 1),
    grouped AS (
        SELECT split, COUNT(*) AS n_docs, COUNT(DISTINCT grp) AS n_groups
        FROM assigned GROUP BY split),
    naive AS (
        SELECT naive_split AS split, COUNT(*) AS naive_n_docs,
               CAST(SUM(CASE WHEN grp IN (SELECT grp FROM leaky)
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS naive_leaked_docs
        FROM assigned GROUP BY naive_split)
    SELECT split, n_docs, n_groups, naive_n_docs, naive_leaked_docs
    FROM grouped JOIN naive USING (split)
    """,
    tags=("corpus", "split", "dedup", "leakage"),
)
def q_leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware train/eval split: every document is assigned by
    the md5-fraction of its near-dup CLUSTER representative (singletons
    by their own id), so a cluster of near-duplicates can never span
    train and eval — the leakage a naive per-document split permits
    (quantified here: naive_leaked_docs counts docs the naive split
    places in each half whose cluster straddles the boundary).

    Reuses q_dedup_clusters' converged label relation (iterative CC,
    scoped shuffles); the split assignment itself is one broadcast-
    joinable LEFT JOIN of labels onto documents plus two hash aggs —
    at 100 TB the labels relation is near-dup-docs-sized, far smaller
    than the corpus, and everything downstream of the (already
    required) dedup pass is embarrassingly parallel. This is the
    standard decontaminated-split recipe for training corpora.
    """
    from my_mapreduce_spark.queries.dedup import q_dedup_clusters

    labels = q_dedup_clusters(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def frac(col):
        return (F.conv(F.substring(F.md5(col.cast("string")), 1, 8),
                       16, 10).cast("bigint") % 1000000) / 1000000.0

    grp = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    assigned = (docs.join(labels, "doc_id", "left")
                .select("doc_id", grp.alias("grp"))
                .withColumn("split", F.when(frac(F.col("grp")) < 0.8,
                                            "train").otherwise("eval"))
                .withColumn("naive_split",
                            F.when(frac(F.col("doc_id")) < 0.8,
                                   "train").otherwise("eval")))
    leaky = (assigned.groupBy("grp")
             .agg(F.countDistinct("naive_split").alias("ns"))
             .where(F.col("ns") > 1).select("grp"))
    grouped = (assigned.groupBy("split")
               .agg(F.count("*").alias("n_docs"),
                    F.countDistinct("grp").alias("n_groups")))
    naive = (assigned.join(F.broadcast(leaky.withColumn("lk", F.lit(1))),
                           "grp", "left")
             .groupBy(F.col("naive_split").alias("split"))
             .agg(F.count("*").alias("naive_n_docs"),
                  F.sum(F.coalesce(F.col("lk"), F.lit(0)).cast("bigint"))
                  .alias("naive_leaked_docs")))
    return grouped.join(naive, "split")


_SRC_PERMS = 16  # per-source MinHash components


def _source_minhash_oracle() -> str:
    mins = ",\n               ".join(
        f"MIN(md5('{i}|' || shingle)) AS m{i}" for i in range(_SRC_PERMS))
    matches = " + ".join(
        f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END"
        for i in range(_SRC_PERMS))
    return f"""
    WITH {_SHINGLES_CTE},
    src AS (
        SELECT s.doc_id, d.source, s.shingle
        FROM s JOIN documents d USING (doc_id)),
    sig AS (
        SELECT source,
               {mins}
        FROM src GROUP BY source)
    SELECT a.source AS source_a, b.source AS source_b,
           CAST({matches} AS BIGINT) AS n_matches,
           ROUND(({matches}) / {_SRC_PERMS}.0, 6) AS est_jaccard
    FROM sig a JOIN sig b ON a.source < b.source
    """


@register(
    "q_source_minhash_sim",
    oracle=_source_minhash_oracle(),
    tags=("dedup", "minhash", "corpus", "source"),
)
def q_source_minhash_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Container-level near-dup signal: pairwise MinHash similarity
    of SOURCES (each source's signature = MinHash over the union of
    its docs' shingles).

    The crawl-hygiene question "are two feeds mirroring each other?"
    answered without any doc-level pair join: one shingle pass, one
    source-keyed aggregation down to 16 hex strings per source,
    then a source×source comparison over container-cardinality rows
    (q_dedup_minhash_lsh's md5 permutations: the signature is
    dedup._minhash_sig keyed on source and the match count is
    dedup._n_matches, so the oracle reproduces every signature
    bit-for-bit). At 100 TB the pair stage is trivia — cost is the
    one corpus scan.
    """
    from my_mapreduce_spark.queries.dedup import (_minhash_sig, _n_matches,
                                                  _shingle_rows)

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    # shingle strings: the oracle's md5('<seed>|' || shingle) components
    src_shingles = _shingle_rows(spark, sf_dir).join(docs, "doc_id")
    sig = _minhash_sig(src_shingles, _SRC_PERMS, key="source")
    n_matches = _n_matches(_SRC_PERMS)
    return (
        sig.alias("x").join(sig.alias("y"),
                            F.col("x.source") < F.col("y.source"))
        .select(F.col("x.source").alias("source_a"),
                F.col("y.source").alias("source_b"),
                n_matches.cast("bigint").alias("n_matches"),
                F.round(n_matches / F.lit(float(_SRC_PERMS)), 6)
                    .alias("est_jaccard"))
    )


@register(
    "q_source_token_entropy",
    oracle="""
    WITH t AS (
        SELECT source,
               UNNEST(list_filter(
                   regexp_split_to_array(text, '[^a-z0-9]+'),
                   x -> x <> '')) AS token
        FROM documents),
    cnt AS (SELECT source, token, COUNT(*) AS c FROM t GROUP BY 1, 2),
    tot AS (SELECT source, SUM(c) AS n FROM cnt GROUP BY 1)
    SELECT cnt.source,
           CAST(tot.n AS BIGINT) AS n_tokens,
           COUNT(*) AS vocab,
           ROUND(-SUM((c / n) * ln(c / n)), 6) AS entropy_nats
    FROM cnt JOIN tot USING (source)
    GROUP BY cnt.source, tot.n
    """,
    tags=("text", "corpus", "stats", "source"),
)
def q_source_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each source's unigram distribution — the
    absolute diversity twin of q_source_kl_divergence (which is
    relative to the corpus mixture): low entropy flags template/spam
    feeds, drift over time flags scraper breakage.

    Two token-keyed aggs (both vocabulary-bounded per source) + one
    broadcastable per-source total join; the entropy sum is a plain
    JVM aggregate.
    """
    docs = load_table(spark, sf_dir, "documents")
    cnt = (docs.select("source", F.explode(tokens()).alias("token"))
           .groupBy("source", "token").agg(F.count(F.lit(1)).alias("c")))
    tot = cnt.groupBy("source").agg(F.sum("c").alias("n"))
    p = F.col("c") / F.col("n")
    return (
        cnt.join(F.broadcast(tot), "source")
        .groupBy("source", "n")
        .agg(F.count(F.lit(1)).alias("vocab"),
             F.round(-F.sum(p * F.log(p)), 6).alias("entropy_nats"))
        .select("source", F.col("n").cast("bigint").alias("n_tokens"),
                "vocab", "entropy_nats")
    )


_NOVELTY_BUCKET = 100  # docs per bucket on the ingest (doc_id) axis


@register(
    "q_ngram_novelty_curve",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    first AS (
        SELECT shingle, MIN(doc_id) AS first_doc FROM s GROUP BY shingle),
    nov AS (
        SELECT first_doc // {_NOVELTY_BUCKET} AS bucket,
               COUNT(*) AS novel_ngrams
        FROM first GROUP BY 1),
    tot AS (
        SELECT doc_id // {_NOVELTY_BUCKET} AS bucket,
               COUNT(*) AS seen_ngrams
        FROM s GROUP BY 1)
    SELECT tot.bucket,
           tot.seen_ngrams,
           COALESCE(nov.novel_ngrams, 0) AS novel_ngrams,
           CAST(SUM(COALESCE(nov.novel_ngrams, 0)) OVER (
               ORDER BY tot.bucket) AS BIGINT) AS cum_novel,
           ROUND(COALESCE(nov.novel_ngrams, 0) / tot.seen_ngrams, 6)
               AS novelty_rate
    FROM tot LEFT JOIN nov USING (bucket)
    """,
    tags=("corpus", "dedup", "stats"),
)
def q_ngram_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus saturation curve: per ingest bucket of
    100 docs, how many distinct 3-gram shingles are NOVEL
    (first occurrence) vs merely seen — the marginal-value signal
    that tells a crawl when more of the same source stops adding
    information (novelty_rate → 0 ⇒ dedup ROI, stop-crawling
    threshold).

    First-occurrence is a shingle-keyed MIN agg (no window over the
    corpus); bucket totals are a second agg; the only window is the
    cumulative sum over bucket-cardinality rows. All shuffles are
    shingle- or bucket-keyed — nothing quadratic, nothing
    driver-side.
    """
    from my_mapreduce_spark.queries.dedup import _shingle_rows

    # persisted: the first-seen aggregate and the per-bucket total
    # both consume s (caller releases, caching.py contract); hashed:
    # first-occurrence is a hash-keyed MIN, no string in the output
    s = _shingle_rows(spark, sf_dir, hashed=True).persist()
    first = s.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    nov = (first.groupBy((F.col("first_doc") / _NOVELTY_BUCKET)
                         .cast("bigint").alias("bucket"))
           .agg(F.count(F.lit(1)).alias("novel_ngrams")))
    tot = (s.groupBy((F.col("doc_id") / _NOVELTY_BUCKET)
                     .cast("bigint").alias("bucket"))
           .agg(F.count(F.lit(1)).alias("seen_ngrams")))
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    joined = (tot.join(nov, "bucket", "left")
              .withColumn("novel_ngrams",
                          F.coalesce("novel_ngrams", F.lit(0))))
    return joined.select(
        "bucket", "seen_ngrams", "novel_ngrams",
        F.sum("novel_ngrams").over(w).cast("bigint").alias("cum_novel"),
        F.round(F.col("novel_ngrams") / F.col("seen_ngrams"), 6)
            .alias("novelty_rate"))


# Temperature for q_mixture_temperature: the multilingual-LM standard
# exponent (0 = uniform over sources, 1 = raw proportions).
_MIX_TAU = 0.7


@register(
    "q_mixture_temperature",
    oracle=f"""
    WITH sz AS (SELECT source, COUNT(*) AS n_docs
                FROM documents GROUP BY source),
    tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n FROM sz),
    sh AS (SELECT source, n_docs,
                  CAST(n_docs AS DOUBLE) / tot.n AS q,
                  POWER(CAST(n_docs AS DOUBLE) / tot.n, {_MIX_TAU}) AS wr
           FROM sz CROSS JOIN tot),
    den AS (SELECT SUM(wr) AS s FROM sh)
    SELECT source, n_docs,
           ROUND(q, 6) AS raw_share,
           ROUND(wr / den.s, 6) AS temp_share,
           ROUND(wr / den.s / q, 6) AS boost
    FROM sh CROSS JOIN den
    """,
    tags=("corpus", "sampling", "mixture"),
)
def q_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixture (tau = 0.7): the sampling
    weights a multilingual/multi-source LM run derives FROM the
    corpus — w_i = q_i^tau / sum q_j^tau — so low-resource sources
    are upsampled (boost > 1) and dominant ones downsampled, the
    standard compromise between raw proportions (tau=1, head
    sources drown the tail) and uniform (tau=0, tail noise drowns
    the head). Complements q_dataset_mixture, which APPLIES a given
    share table; this query derives one.

    Engine shape: one map-side-combined count to O(sources) rows,
    then two 1-row scalar broadcasts (total, then the power-sum
    normalizer) crossed back — the whitelisted scalar-subquery
    shape; no row-level work after the first aggregate, so at
    100 TB the cost is the count scan and nothing else.

    Reference parity: none; north-star §2D mixture construction.
    """
    docs = load_table(spark, sf_dir, "documents").select("source")
    sz = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = sz.agg(F.sum("n_docs").cast("bigint").alias("n"))
    sh = (sz.crossJoin(F.broadcast(tot))
          .select("source", "n_docs",
                  (F.col("n_docs").cast("double") / F.col("n")).alias("q"))
          .withColumn("wr", F.pow(F.col("q"), F.lit(_MIX_TAU))))
    den = sh.agg(F.sum("wr").alias("s"))
    return (sh.crossJoin(F.broadcast(den))
            .select("source", "n_docs",
                    F.round("q", 6).alias("raw_share"),
                    F.round(F.col("wr") / F.col("s"), 6).alias("temp_share"),
                    F.round(F.col("wr") / F.col("s") / F.col("q"), 6)
                    .alias("boost")))


@register(
    "q_doc_repetition",
    oracle="""
    WITH t AS (
        SELECT doc_id, lang,
               list_filter(regexp_split_to_array(text, '[^a-z0-9]+'),
                           x -> x <> '') AS w
        FROM documents),
    base AS (SELECT doc_id, lang FROM t),
    words AS (SELECT doc_id, UNNEST(w) AS word FROM t),
    wc AS (SELECT doc_id, word, COUNT(*) AS c, length(word) AS lw
           FROM words GROUP BY doc_id, word),
    perdoc_w AS (
        SELECT doc_id, CAST(SUM(c * lw) AS BIGINT) AS chars,
               CAST(MAX(c * lw) AS BIGINT) AS maxwc
        FROM wc GROUP BY doc_id),
    tri AS (
        SELECT doc_id, array_to_string(w[i:i+2], ' ') AS g
        FROM t, UNNEST(range(1, len(w) - 1)) AS u(i)
        WHERE len(w) >= 3),
    perdoc_t AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS tot3,
               CAST(COUNT(DISTINCT g) AS BIGINT) AS d3
        FROM tri GROUP BY doc_id),
    pd AS (
        SELECT b.lang,
               COALESCE(pw.chars, 0) AS chars,
               COALESCE(pw.maxwc, 0) AS maxwc,
               COALESCE(pt.tot3, 0) AS tot3,
               COALESCE(pt.d3, 0) AS d3
        FROM base b
        LEFT JOIN perdoc_w pw ON pw.doc_id = b.doc_id
        LEFT JOIN perdoc_t pt ON pt.doc_id = b.doc_id)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(1.0 - CAST(SUM(d3) AS DOUBLE)
                       / NULLIF(SUM(tot3), 0), 6) AS dup3_frac,
           CAST(SUM(CASE WHEN 5 * d3 < 4 * tot3 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_rep_flagged,
           CAST(SUM(CASE WHEN 10 * maxwc > 3 * chars THEN 1 ELSE 0 END)
               AS BIGINT) AS n_topword_flagged
    FROM pd GROUP BY lang
    """,
    tags=("corpus", "quality", "repetition", "gopher"),
)
def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document repetition census per language — the Gopher /
    MassiveText repetition filters in their intra-doc form, which
    q_dup_ngram_fraction (cross-document) deliberately does not
    cover: per doc, the duplicate word-3-gram fraction (1 -
    distinct/total occurrences) and the top-word character share
    (max over words of count*len / total word chars). Reported per
    lang: corpus-level dup fraction (ratio of SUMMED integers — one
    float division total, no float-accumulation seam), docs flagged
    for repetition (dup fraction > 0.2, tested as the integer
    inequality 5*d3 < 4*tot3), and docs flagged for a dominant word
    (share > 0.3, tested as 10*maxwc > 3*chars).

    Engine shape: two explodes (words; shingles), each absorbed by
    a (doc, token)-keyed hash aggregate with map-side partials,
    then a doc-keyed rollup and an O(langs) final aggregate — no
    joins wider than doc-keyed, no windows, nothing pair-shaped.
    At 100 TB this is the canonical pre-training hygiene scan: one
    pass, one shuffle per explode, output bounded by the language
    inventory. Docs with no trigrams (under 3 words) count zero
    repetition by the COALESCE rule on both engines.

    Reference parity: none (wc counts words only, mrapps/wc.go:14);
    north-star §2D corpus-hygiene depth.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", tokens().alias("w"))
    base = docs.select("doc_id", "lang")
    words = docs.select("doc_id", F.explode("w").alias("word"))
    wc = (words.groupBy("doc_id", "word")
          .agg(F.count(F.lit(1)).alias("c"))
          .withColumn("cl", F.col("c") * F.length("word")))
    perdoc_w = (wc.groupBy("doc_id")
                .agg(F.sum("cl").alias("chars"),
                     F.max("cl").alias("maxwc")))
    tri = (docs.where(F.size("w") >= 3)
           .select("doc_id", F.explode(shingles(F.col("w"))).alias("g")))
    perdoc_t = (tri.groupBy("doc_id")
                .agg(F.count(F.lit(1)).alias("tot3"),
                     F.count_distinct("g").alias("d3")))
    pd = (base
          .join(perdoc_w, "doc_id", "left")
          .join(perdoc_t, "doc_id", "left")
          .select("lang",
                  F.coalesce("chars", F.lit(0)).alias("chars"),
                  F.coalesce("maxwc", F.lit(0)).alias("maxwc"),
                  F.coalesce("tot3", F.lit(0)).alias("tot3"),
                  F.coalesce("d3", F.lit(0)).alias("d3")))
    return (pd.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.round(F.lit(1.0) - F.try_divide(
                     F.sum("d3").cast("double"),
                     F.nullif(F.sum("tot3"), F.lit(0))), 6)
                 .alias("dup3_frac"),
                 F.sum(F.when(5 * F.col("d3") < 4 * F.col("tot3"), 1)
                       .otherwise(0)).alias("n_rep_flagged"),
                 F.sum(F.when(10 * F.col("maxwc") > 3 * F.col("chars"), 1)
                       .otherwise(0)).alias("n_topword_flagged")))


_CR_SCHEMA = ("doc_id long, raw_bytes long, zlib_bytes long, "
              "ratio double, repetitive boolean")
_CR_LEVEL = 6          # zlib default; fixed so results are reproducible
_CR_REPETITIVE = 0.3   # ratio below this = heavily self-repeating text


def _compression_batches(batches):
    """Arrow-batch worker for q_compression_ratio: zlib-compress each
    document's UTF-8 bytes and report the size ratio. Module-level so
    tests drive it directly and executors import it by reference
    (no closure pickling)."""
    import zlib

    import pandas as pd

    for pdf in batches:
        raw = pdf["text"].str.encode("utf-8")
        raw_len = raw.str.len().astype("int64")
        comp_len = raw.map(
            lambda b: len(zlib.compress(b, _CR_LEVEL))).astype("int64")
        ratio = (comp_len / raw_len).round(6)
        yield pd.DataFrame({
            "doc_id": pdf["doc_id"].astype("int64"),
            "raw_bytes": raw_len,
            "zlib_bytes": comp_len,
            "ratio": ratio,
            "repetitive": ratio < _CR_REPETITIVE,
        })


@register(
    "q_compression_ratio",
    oracle=None,  # no zlib in SQL engines; determinism + monotonicity
                  # are pinned by tests/test_compression_ratio.py
    tags=("corpus", "quality", "compression", "pandas-udf"),
)
def q_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document zlib compression ratio — the classic cheap
    redundancy signal for corpus curation (RefinedWeb/MassiveText
    style): highly compressible text is boilerplate, template spam,
    or degenerate repetition; nearly incompressible text at natural-
    language lengths is often binary junk or ciphertext. Emits raw
    vs compressed byte sizes, their ratio, and a repetitive flag at
    the 0.3 threshold (fixed level-6 zlib, so every run is
    bit-reproducible).

    No SQL engine exposes zlib, so this is an honest no-oracle
    query: the driver records a rows-only check, and
    tests/test_compression_ratio.py pins determinism across runs,
    the monotonicity property (repeated text < shuffled text <
    ratio 1), and the exact flag rule.

    Scale shape: pure ``mapInPandas`` — Arrow-batched, partition-
    local, zero shuffle, zero state; compression cost is linear in
    corpus bytes and embarrassingly parallel, the same posture as
    the multimodal decode pipeline (multimodal.py) with a real
    codec instead of a stubbed one. Null/empty text is filtered at
    ingestion (the dirty-tier hygiene contract). Reference parity:
    none; north-star §2D corpus-hygiene depth.
    """
    docs = (load_table(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .where(F.col("text").isNotNull() & (F.length("text") > 0)))
    return docs.mapInPandas(_compression_batches, schema=_CR_SCHEMA)


_SPAN_N = 5  # substring-dedup shingle width (tokens)


@register(
    "q_substring_dedup_spans",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '[^a-z0-9]+'),
                           x -> x <> '') AS w
        FROM documents),
    p AS (
        SELECT doc_id, i,
               array_to_string(w[i:i+{_SPAN_N - 1}], ' ') AS sh,
               len(w) AS n_tokens
        FROM t, UNNEST(range(1, len(w) - {_SPAN_N - 2})) AS u(i)
        WHERE len(w) >= {_SPAN_N}),
    df AS (
        SELECT sh, COUNT(DISTINCT doc_id) AS df FROM p GROUP BY sh),
    dup AS (
        SELECT p.doc_id, p.i, p.n_tokens
        FROM p JOIN df ON df.sh = p.sh
        WHERE df.df >= 2),
    marked AS (
        SELECT doc_id, i, n_tokens,
               CASE WHEN i - LAG(i) OVER (PARTITION BY doc_id ORDER BY i)
                    <= {_SPAN_N} THEN 0 ELSE 1 END AS new_span
        FROM dup),
    sp AS (
        SELECT doc_id, i, n_tokens,
               SUM(new_span) OVER (PARTITION BY doc_id ORDER BY i
                                   ROWS UNBOUNDED PRECEDING) AS span_id
        FROM marked),
    spans AS (
        SELECT doc_id, span_id,
               MAX(n_tokens) AS n_tokens,
               MAX(i) - MIN(i) + {_SPAN_N} AS span_len
        FROM sp GROUP BY doc_id, span_id)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(span_len) AS BIGINT) AS dup_tokens,
           CAST(MAX(span_len) AS BIGINT) AS longest_span,
           ROUND(SUM(span_len) * 1.0 / MAX(n_tokens), 6) AS dup_frac
    FROM spans GROUP BY doc_id
    """,
    tags=("corpus", "dedup", "substring", "quality"),
)
def q_substring_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-SUBSTRING dedup report (the span-level sibling of
    q_dup_ngram_fraction, after Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better": remove repeated
    SPANS, not whole near-dup docs): every token position starting
    a 5-gram that also appears in ANOTHER document is a duplicated
    position; runs of duplicated positions closer than the shingle
    width merge into MAXIMAL duplicated spans (two hits at starts
    i, j with j - i <= 5 overlap or touch, so they fuse). Per doc:
    span count, duplicated-token total, longest span, duplicated
    fraction — exactly what a substring-dedup pass would excise.
    The suffix-array construction in the paper finds the same spans;
    shingle-df + island-merge is the shuffle-native equivalent.

    Scale shape: positions are generated ARRAY-LOCALLY (posexplode
    of the in-row shingle array — no join builds them); df is one
    combiner-reduced count over distinct (doc, shingle) pairs; the
    df >= 2 filter happens ON the shingle-keyed join so only
    duplicated positions flow into the window; the island-merge
    window partitions BY DOC (state bounded by doc length, never
    corpus-sized). At 100 TB: two shingle-keyed shuffles + one
    doc-keyed shuffle, all combiner-friendly — the plan of every
    production substring-dedup (the df relation IS the "duplicate
    index" that incremental runs reuse). Reference parity: none;
    north-star §2D dedup depth.
    """
    docs = widen_unsplittable_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    withw = (docs.select("doc_id", tokens().alias("w"))
             .where(F.size("w") >= _SPAN_N))
    # p persisted: the df aggregate and the duplicated-position join
    # both consume the position explode (caller releases, caching.py)
    p = withw.select(
        "doc_id", F.size("w").alias("n_tokens"),
        F.posexplode(shingles(F.col("w"), _SPAN_N)).alias("i0", "sh")) \
        .persist()
    dfrel = (p.select("doc_id", "sh").distinct()
             .groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
             .where(F.col("df") >= 2))
    dup = (p.join(dfrel, "sh")
           .select("doc_id", (F.col("i0") + 1).alias("i"), "n_tokens"))
    w_lag = Window.partitionBy("doc_id").orderBy("i")
    marked = dup.withColumn(
        "new_span",
        F.when(F.col("i") - F.lag("i").over(w_lag) <= _SPAN_N, 0)
        .otherwise(1))
    w_cum = (Window.partitionBy("doc_id").orderBy("i")
             .rowsBetween(Window.unboundedPreceding, 0))
    sp = marked.withColumn("span_id", F.sum("new_span").over(w_cum))
    spans = (sp.groupBy("doc_id", "span_id")
             .agg(F.max("n_tokens").alias("n_tokens"),
                  (F.max("i") - F.min("i") + _SPAN_N).alias("span_len")))
    return (spans.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_spans"),
                 F.sum("span_len").alias("dup_tokens"),
                 F.max("span_len").alias("longest_span"),
                 F.round(F.sum("span_len")
                         / F.max("n_tokens").cast("double"), 6)
                 .alias("dup_frac")))


_CDC_W = 8           # rolling-window width (chars)
_CDC_MASK = 64       # boundary when window-hash % 64 == 0 (~64-char chunks)


@register(
    "q_cdc_chunks",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
        FROM documents WHERE length(text) > 0),
    pos AS (
        SELECT doc_id, CAST(UNNEST(range({_CDC_W}, n + 1)) AS BIGINT) AS p,
               text
        FROM base),
    bnd AS (
        SELECT doc_id, p
        FROM pos
        WHERE CAST(('0x' || substr(md5(substr(text,
                       CAST(p AS INT) - {_CDC_W - 1}, {_CDC_W})), 1, 8))
                   AS UBIGINT) % {_CDC_MASK} = 0),
    allb AS (
        SELECT DISTINCT doc_id, p
        FROM (SELECT doc_id, p FROM bnd
              UNION ALL SELECT doc_id, n AS p FROM base)),
    ch AS (
        SELECT doc_id,
               p - COALESCE(LAG(p) OVER (PARTITION BY doc_id ORDER BY p),
                            0) AS clen
        FROM allb)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(MIN(clen) AS BIGINT) AS min_chunk,
           CAST(MAX(clen) AS BIGINT) AS max_chunk,
           CAST(SUM(clen) AS BIGINT) AS total_chars
    FROM ch GROUP BY doc_id
    """,
    tags=("pipeline", "chunking", "cdc", "dedup"),
)
def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking census: per document, chunk
    boundaries fall AFTER any position whose trailing 8-char window
    hashes to 0 mod 64 (md5-derived 32-bit value — the declarative
    stand-in for a gear/Rabin rolling hash; expected chunk ≈ 64
    chars), plus a forced boundary at end-of-doc. Reported per doc:
    chunk count, min/max chunk length, and the total (= doc length,
    the conservation check). CDC is THE storage/backup dedup
    primitive — identical content shifted by an insertion re-aligns
    on the same content-local boundaries, which fixed-width
    chunking (q_doc_chunking) cannot do — and chunk-hash dedup is
    its training-corpus application.

    Determinism: boundaries are pure integer arithmetic on md5 hex
    (cross-engine md5/substring parity is pinned by
    tests/test_unicode_tokenizer_parity.py) — fully oracle-exact.
    Scale shape: the per-position window relation is the
    q_lang_id_trigram cost class (corpus-chars rows, array-local
    generation, no cross-doc state); boundary rows collapse to
    ~n_chars/64 per doc before the only per-doc window (LAG over
    boundary rows, bounded by doc length / 64); output is one row
    per doc. A production deployment swaps the explode for a
    gear-hash mapInPandas over the same schema (the multimodal.py
    tier); the RELATIONAL contract — boundaries, conservation,
    chunk stats — is what this query pins.
    """
    docs = (load_table(spark, sf_dir, "documents")
            .select("doc_id", "text",
                    F.length("text").cast("bigint").alias("n"))
            .where(F.col("n") > 0))
    # the per-character window explode + md5 is the query's whole
    # cost and fuses into the scan stage — widen the unsplittable
    # single-row-group scan so it parallelizes (no-op on split input)
    docs = widen_unsplittable_scan(docs)
    wins = (docs.select(
                "doc_id", "n",
                F.explode(F.expr(
                    f"transform(sequence({_CDC_W}, length(text)), "
                    f"p -> struct(CAST(p AS BIGINT) AS p, "
                    f"substring(text, p - {_CDC_W - 1}, {_CDC_W}) AS w))"))
                .alias("x"))
            .select("doc_id", F.col("x.p").alias("p"), F.col("x.w").alias("w")))
    bnd = (wins.where(
               F.expr(f"CAST(conv(substring(md5(w), 1, 8), 16, 10) AS BIGINT)"
                      f" % {_CDC_MASK} = 0"))
           .select("doc_id", "p"))
    ends = docs.select("doc_id", F.col("n").alias("p"))
    allb = bnd.union(ends).distinct()
    w_lag = Window.partitionBy("doc_id").orderBy("p")
    ch = allb.select(
        "doc_id",
        (F.col("p") - F.coalesce(F.lag("p").over(w_lag),
                                 F.lit(0).cast("bigint"))).alias("clen"))
    return (ch.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_chunks"),
                 F.min("clen").alias("min_chunk"),
                 F.max("clen").alias("max_chunk"),
                 F.sum("clen").cast("bigint").alias("total_chars")))


_CURR_STAGES_SQL = """CASE WHEN n_chars < 200 THEN 0
             WHEN n_chars < 350 THEN 1
             WHEN n_chars < 450 THEN 2
             ELSE 3 END"""


@register(
    "q_curriculum_order",
    oracle=f"""
    WITH staged AS (
        SELECT doc_id,
               {_CURR_STAGES_SQL} AS stage,
               md5(CAST(doc_id AS VARCHAR)) AS h
        FROM documents)
    SELECT doc_id, CAST(stage AS INT) AS stage,
           CAST(ROW_NUMBER() OVER (ORDER BY stage, h, doc_id)
                AS BIGINT) AS position
    FROM staged
    """,
    tags=("corpus", "curriculum", "training-order", "documents"),
)
def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CURRICULUM ORDERING for training: every document gets a
    global training position — easy (short) docs first, stages by
    fixed length boundaries, DETERMINISTIC shuffle within each stage
    (order by md5 of the doc id, so the within-stage order is
    reproducible across runs and engines without any RNG state).
    This is the batch-ordering operator curriculum-learning
    pipelines put between curation and sharding: downstream packing
    (q_pack_sequences) and sharding (q_shard_pack_cumsum) consume
    exactly this position column.

    Engine shape: the global position comes from
    functions.ranking.distributed_row_number — repartitionByRange on
    (stage, md5, doc_id) with per-partition local ranks + broadcast
    prefix offsets — NOT a global ROW_NUMBER window (the
    single-task WindowExec smell the plan audit flags; the oracle
    states it as the global window because DuckDB is single-node —
    same relation, different physical strategy). Everything is
    integer/string comparison: a FULL equality oracle with no float
    anywhere.

    At 100 TB: one scan + one range shuffle; stage boundaries are
    data-independent constants, so the range partitioner's sample
    pass is the only extra cost — the standard total-order price
    already paid by q_window_ntile and the packing family.
    """
    from my_mapreduce_spark.functions.ranking import distributed_row_number

    staged = (load_table(spark, sf_dir, "documents")
              .select("doc_id",
                      F.expr(_CURR_STAGES_SQL).cast("int").alias("stage"),
                      F.md5(F.col("doc_id").cast("string")).alias("h")))
    ranked = distributed_row_number(
        staged, [F.col("stage"), F.col("h"), F.col("doc_id")],
        out="position")
    return ranked.select("doc_id", "stage",
                         F.col("position").cast("bigint").alias("position"))


# Gopher repetition-filter thresholds (Rae et al. 2021, table A1
# shape): docs above either fraction are flagged for removal. Kept
# rational (x1000) so the filter predicate is exact integer compare.
_REP_TOP2_MILLI = 200    # top 2-gram covers > 20% of tokens
_REP_DUP3_MILLI = 180    # > 18% of 3-grams are repeats


@register(
    "q_intradoc_repetition",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '[^a-z0-9]+'),
                           x -> x <> '') AS w
        FROM documents),
    g2 AS (
        SELECT doc_id, array_to_string(w[i:i+1], ' ') AS g
        FROM t, UNNEST(range(1, len(w))) AS u(i)
        WHERE len(w) >= 2),
    top2 AS (
        SELECT doc_id, MAX(c) AS top2_cnt FROM (
            SELECT doc_id, COUNT(*) AS c FROM g2 GROUP BY doc_id, g)
        GROUP BY doc_id),
    g3 AS (
        SELECT doc_id, array_to_string(w[i:i+2], ' ') AS g
        FROM t, UNNEST(range(1, len(w) - 1)) AS u(i)
        WHERE len(w) >= 3),
    d3 AS (
        SELECT doc_id, COUNT(*) AS n3,
               COUNT(DISTINCT g) AS n3_distinct
        FROM g3 GROUP BY doc_id)
    SELECT t.doc_id, len(t.w) AS n_tokens,
           ((2 * 2 * top2.top2_cnt * 1000000 + len(t.w))
            // (2 * len(t.w))) / 1e6                  AS top2gram_frac,
           ((2 * (d3.n3 - d3.n3_distinct) * 1000000 + d3.n3)
            // (2 * d3.n3)) / 1e6                     AS dup3gram_frac,
           (1000 * 2 * top2.top2_cnt > 200 * len(t.w)
            OR 1000 * (d3.n3 - d3.n3_distinct) > 180 * d3.n3)
                                                      AS would_filter
    FROM t JOIN top2 USING (doc_id) JOIN d3 USING (doc_id)
    """,
    tags=("corpus", "repetition", "quality", "gopher"),
)
def q_intradoc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document repetition screening — the Gopher/MassiveText
    repetition filters (top n-gram coverage + duplicate n-gram
    fraction) that q_dup_ngram_fraction's CROSS-document form does
    not cover: a doc that endlessly repeats its own boilerplate is
    low-quality even if no other doc shares it. Per doc: the token
    share covered by its most frequent 2-gram (occurrences x 2 /
    n_tokens), the fraction of its 3-grams that are repeats
    (1 - distinct/total), and the filter verdict at the Gopher-shaped
    thresholds (top2 > 20%, dup3 > 18%) — the verdict compares in
    EXACT integer cross-multiplication, the fractions ship as the
    module's standard half-up 6-dp bigint rationals, so no float
    sits anywhere before the final /1e6 display division.

    Engine shape: explode n-grams, one (doc_id, gram) count, one
    per-doc max/sum — every shuffle is doc-keyed, and since explode
    preserves the source row's partition, partial aggregation
    collapses each doc's grams before the exchange. Corpus-linear at
    100 TB; no joins except the final doc-keyed assembly of the two
    gram relations (co-partitioned by the same key)."""
    docs = widen_unsplittable_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    # t persisted: the token-count base and both gram explodes
    # consume it (caller releases, caching.py contract)
    t = docs.select("doc_id", tokens().alias("w")).persist()
    base = t.select("doc_id", F.size("w").alias("n_tokens"))
    g2 = (t.where(F.size("w") >= 2)
          .select("doc_id", F.explode(shingles(F.col("w"), 2)).alias("g")))
    top2 = (g2.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
            .groupBy("doc_id").agg(F.max("c").alias("top2_cnt")))
    g3 = (t.where(F.size("w") >= 3)
          .select("doc_id", F.explode(shingles(F.col("w"), 3)).alias("g")))
    d3 = (g3.groupBy("doc_id")
          .agg(F.count(F.lit(1)).alias("n3"),
               F.count_distinct("g").alias("n3_distinct")))
    return (base.join(top2, "doc_id").join(d3, "doc_id")
            .select(
                "doc_id", "n_tokens",
                (F.expr("(2 * 2 * top2_cnt * 1000000 + n_tokens) "
                        "DIV (2 * n_tokens)") / 1e6).alias("top2gram_frac"),
                (F.expr("(2 * (n3 - n3_distinct) * 1000000 + n3) "
                        "DIV (2 * n3)") / 1e6).alias("dup3gram_frac"),
                ((1000 * 2 * F.col("top2_cnt")
                  > _REP_TOP2_MILLI * F.col("n_tokens"))
                 | (1000 * (F.col("n3") - F.col("n3_distinct"))
                    > _REP_DUP3_MILLI * F.col("n3")))
                .alias("would_filter")))
