"""Round-2 training-data-pipeline operators (SURVEY.md §2D depth).

The shapes a 100 TB LLM-data pipeline runs between raw crawl and
training shards, beyond the dedup/similarity/text modules:

- CDC-style latest-state compaction over the event stream;
- funnel/conversion analysis (time-bounded semi-join per segment);
- TF-IDF vocabulary scoring (two-level aggregation + broadcast-able
  doc-frequency join);
- Gopher-style quality-rule filtering with per-rule flags;
- per-group extreme-value detection (z-score ranks);
- full-outer profile/activity reconciliation;
- column profiling (null/distinct/min/max per column);
- deterministic hash sampling per stratum;
- a composed end-to-end pipeline (filter -> dedup -> sample).

All are JVM-side expressions (no Python UDFs); every query carries a
DuckDB oracle. Float thresholds are avoided in WHERE clauses wherever
engines could disagree by an ulp — rank-based cuts (row_number) and
integer/string predicates keep the result sets bit-stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from my_mapreduce_spark.io import load_table
from my_mapreduce_spark.functions.text import tokens
from my_mapreduce_spark.queries.text_analysis import _STOPWORDS
from my_mapreduce_spark.registry import register

_TOKEN_SPLIT_SQL = "list_filter(regexp_split_to_array(text, '[^a-z0-9]+'), x -> x <> '')"


# ---------------------------------------------------------------------------
# CDC latest-state compaction
# ---------------------------------------------------------------------------

@register(
    "q_events_latest_state",
    oracle="""
    SELECT user_id,
           event_id AS last_event_id,
           event_type AS last_event_type,
           ROUND(value, 4) AS last_value
    FROM events
    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) = 1
    """,
    tags=("pipeline", "cdc", "events"),
)
def q_events_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture compaction: collapse the event log to the
    latest record per key — the materialize step of every incremental
    pipeline. One hash-partitioned window (key-colocated shuffle),
    no self-join; at 100 TB this is the standard log-to-snapshot
    compaction and scales with the number of keys, not events."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(),
                                              F.col("event_id").desc())
    return (ev.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("user_id",
                    F.col("event_id").alias("last_event_id"),
                    F.col("event_type").alias("last_event_type"),
                    F.round("value", 4).alias("last_value")))


# ---------------------------------------------------------------------------
# Funnel conversion per segment
# ---------------------------------------------------------------------------

_FUNNEL_WINDOW_MIN = 30


@register(
    "q_funnel_conversion",
    oracle=f"""
    WITH ev AS (
        SELECT e.*, c.c_mktsegment AS segment
        FROM events e JOIN customer c ON e.user_id = c.c_custkey),
    clicks AS (
        SELECT DISTINCT user_id, segment FROM ev WHERE event_type = 'click'),
    conv AS (
        SELECT DISTINCT c.user_id
        FROM ev c JOIN ev p
          ON c.user_id = p.user_id
         AND c.event_type = 'click' AND p.event_type = 'purchase'
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL {_FUNNEL_WINDOW_MIN} MINUTE)
    SELECT segment,
           COUNT(*) AS n_click_users,
           COUNT(conv.user_id) AS n_converted,
           ROUND(CAST(COUNT(conv.user_id) AS DOUBLE) / COUNT(*), 4) AS conv_rate
    FROM clicks LEFT JOIN conv USING (user_id)
    GROUP BY segment
    """,
    tags=("pipeline", "funnel", "events", "join"),
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click-to-purchase funnel per market segment: a user converts
    if any purchase follows any of their clicks within 30 min.

    Shape: enrich (broadcast dim join) -> distinct click users ->
    time-bounded self-join reduced to a per-user conversion flag
    (semi-join, so the pair blowup never leaves the join) -> one
    small aggregation. The self-join keys on user_id, so it shuffles
    each side once by the same key."""
    ev = (load_table(spark, sf_dir, "events")
          .join(F.broadcast(load_table(spark, sf_dir, "customer")
                            .select("c_custkey", "c_mktsegment")),
                F.col("user_id") == F.col("c_custkey"))
          .select("user_id", "event_type", "ts",
                  F.col("c_mktsegment").alias("segment")))
    clicks = (ev.where(F.col("event_type") == "click")
              .select("user_id", "segment").distinct())
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("c_ts"))
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("p_ts"))
    conv = (c.join(p, (F.col("cu") == F.col("pu"))
                   & (F.col("p_ts") >= F.col("c_ts"))
                   & (F.col("p_ts") <= F.col("c_ts")
                      + F.expr(f"INTERVAL {_FUNNEL_WINDOW_MIN} MINUTES")),
                   "left_semi")
            .select(F.col("cu").alias("user_id")).distinct()
            .withColumn("converted", F.lit(1)))
    return (clicks.join(conv, "user_id", "left")
            .groupBy("segment")
            .agg(F.count(F.lit(1)).alias("n_click_users"),
                 F.count("converted").alias("n_converted"),
                 F.round(F.count("converted").cast("double")
                         / F.count(F.lit(1)), 4).alias("conv_rate")))


# ---------------------------------------------------------------------------
# TF-IDF top terms
# ---------------------------------------------------------------------------

_TFIDF_TOP = 3


@register(
    "q_tfidf_top_terms",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOKEN_SPLIT_SQL} AS w
               FROM documents WHERE lang = 'en'),
    tok AS (SELECT doc_id, unnest(w) AS term FROM d),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM d),
    scored AS (
        SELECT tf.doc_id, tf.term,
               tf.tf * ln(CAST((SELECT n_docs FROM n) AS DOUBLE) / df.df)
                   AS tfidf,
               ROW_NUMBER() OVER (
                   PARTITION BY tf.doc_id
                   ORDER BY tf.tf * ln(CAST((SELECT n_docs FROM n) AS DOUBLE)
                                       / df.df) DESC, tf.term) AS rnk
        FROM tf JOIN df USING (term))
    SELECT doc_id, term, ROUND(tfidf, 6) AS tfidf, rnk
    FROM scored WHERE rnk <= {_TFIDF_TOP}
    """,
    tags=("pipeline", "text", "tfidf"),
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per English document.

    Two aggregations over one tokenization pass (term frequency per
    doc, document frequency per term), a join back on term, and a
    per-doc top-k window. The df relation is vocabulary-sized —
    small relative to the corpus, broadcast-able at scale — and the
    doc count arrives via a scalar subquery (crossJoin of a 1-row
    agg), not a driver collect."""
    docs = (load_table(spark, sf_dir, "documents")
            .where(F.col("lang") == "en"))
    tok = (docs.select("doc_id", F.explode(tokens()).alias("term")))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    tfidf = (F.col("tf")
             * F.log(F.col("n_docs").cast("double") / F.col("df")))
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf_raw").desc(), "term")
    return (tf.join(df, "term").crossJoin(F.broadcast(n))
            .withColumn("tfidf_raw", tfidf)
            .withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= _TFIDF_TOP)
            .select("doc_id", "term",
                    F.round("tfidf_raw", 6).alias("tfidf"), "rnk"))


_HH_PHI = 128          # heavy hitter: n_occur * PHI > corpus token count
_HH_SUMMARY_K = 512    # Misra-Gries counters per partition summary


def _mg_summaries(batches):
    """Per-partition Misra-Gries summary over an Arrow token stream:
    bounded at {k} counters no matter how many tokens flow through.
    Merging a batch's value_counts then subtracting the (k+1)-th
    largest count (the mergeable-summaries trim) keeps every item
    whose partition-local frequency exceeds n_part/(k+1) — a superset
    of the partition's heavy hitters, hence (by pigeonhole) the union
    over partitions is a superset of the GLOBAL heavy hitters at any
    threshold above n/(k+1)."""
    import pandas as pd

    counts = pd.Series(dtype="float64")
    for pdf in batches:
        counts = counts.add(pdf["token"].value_counts(), fill_value=0)
        if len(counts) > _HH_SUMMARY_K:
            cut = counts.nlargest(_HH_SUMMARY_K + 1).iloc[-1]
            counts = counts[counts > cut] - cut
    yield pd.DataFrame({"token": counts.index.astype(str)})


@register(
    "q_heavy_hitters",
    oracle=f"""
    WITH tok AS (
        SELECT unnest({_TOKEN_SPLIT_SQL}) AS token FROM documents),
    n AS (SELECT COUNT(*) AS total FROM tok)
    SELECT token,
           COUNT(*) AS n_occur,
           ROUND(COUNT(*) * 1.0 / (SELECT total FROM n), 6) AS frac
    FROM tok GROUP BY token
    HAVING COUNT(*) * {_HH_PHI} > (SELECT total FROM n)
    """,
    tags=("pipeline", "text", "heavy-hitters", "sketch"),
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT frequent tokens (frequency > 1/128 of the corpus) via
    the two-pass sketch-then-verify pattern: per-partition Misra-
    Gries summaries (bounded at 512 counters each — constant memory
    at any corpus size) nominate candidates, and only the candidate
    tokens get an exact recount. MG guarantees the candidate union
    covers every true heavy hitter, so the result is exact — the
    oracle is a plain GROUP BY/HAVING.

    This is the scale shape for skewed-vocabulary corpora where even
    the token-count aggregation is too wide to shuffle comfortably:
    the full-vocab shuffle is replaced by a no-shuffle Arrow summary
    pass plus a recount semi-joined to ~512 x n_partitions broadcast
    candidates. The corpus token total crosses in as a 1-row
    broadcast scalar."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens()).alias("token"))
    cands = tok.mapInPandas(_mg_summaries, schema="token string").distinct()
    total = tok.agg(F.count(F.lit(1)).alias("total"))
    return (tok.join(F.broadcast(cands), "token", "left_semi")
            .groupBy("token").agg(F.count(F.lit(1)).alias("n_occur"))
            .crossJoin(F.broadcast(total))
            .where(F.col("n_occur") * _HH_PHI > F.col("total"))
            .select("token", "n_occur",
                    F.round(F.col("n_occur") / F.col("total"), 6).alias("frac")))


_TOP_TERMS_K = 5


@register(
    "q_top_terms_by_source",
    oracle=f"""
    WITH tok AS (
        SELECT source, lang, unnest({_TOKEN_SPLIT_SQL}) AS term
        FROM documents),
    cnt AS (
        SELECT source, lang, term, COUNT(*) AS n_occur
        FROM tok
        WHERE len(term) >= 4
          AND NOT list_contains(['the','a','of','to','and','in','is',
                                 'that','with','this'], term)
        GROUP BY 1, 2, 3),
    ranked AS (
        SELECT source, lang, term, n_occur,
               ROW_NUMBER() OVER (PARTITION BY source, lang
                                  ORDER BY n_occur DESC, term) AS rnk
        FROM cnt)
    SELECT source, lang, term, n_occur, rnk
    FROM ranked WHERE rnk <= {_TOP_TERMS_K}
    """,
    tags=("pipeline", "text", "top-k", "per-group"),
)
def q_top_terms_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 most frequent content terms per (source, lang) — the
    grouped variant of q_tfidf_top_terms and the single most common
    reporting query over a curated corpus ("what does each slice
    actually contain?"). Short tokens and a stopword list are
    excluded so the ranking surfaces content words.

    Shape: one tokenization pass -> (source, lang, term)-keyed hash
    agg (map-side partial combine, the token explosion never
    re-shuffles raw text) -> per-group row_number window. The window
    input is vocabulary-per-group-sized — bounded by the vocabulary,
    not the corpus — and partitions on (source, lang), so no global
    ordering task exists anywhere in the plan."""
    docs = load_table(spark, sf_dir, "documents")
    stops = F.array(*[F.lit(s) for s in
                      ("the", "a", "of", "to", "and", "in", "is",
                       "that", "with", "this")])
    tok = docs.select("source", "lang", F.explode(tokens()).alias("term"))
    cnt = (tok.where((F.length("term") >= 4)
                     & ~F.array_contains(stops, F.col("term")))
           .groupBy("source", "lang", "term")
           .agg(F.count(F.lit(1)).alias("n_occur")))
    w = Window.partitionBy("source", "lang") \
        .orderBy(F.col("n_occur").desc(), "term")
    return (cnt.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= _TOP_TERMS_K)
            .select("source", "lang", "term", "n_occur", "rnk"))


# ---------------------------------------------------------------------------
# Gopher-style quality rules
# ---------------------------------------------------------------------------

@register(
    "q_quality_filter_rules",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, {_TOKEN_SPLIT_SQL} AS w FROM documents),
    m AS (
        SELECT doc_id, lang,
               len(w) AS n_words,
               CAST(len(list_filter(w, x -> len(x) >= 3 AND len(x) <= 10))
                    AS DOUBLE) / len(w) AS ok_len_frac,
               len(list_filter(w, x -> list_contains(
                   ['the','a','of','to','and','in','is'], x))) AS n_stop
        FROM t WHERE len(w) > 0)
    SELECT doc_id, lang, n_words,
           (n_words BETWEEN 30 AND 90) AS rule_length,
           (ok_len_frac * 2 >= 1) AS rule_word_shape,
           (lang <> 'en' OR n_stop >= 1) AS rule_stopwords,
           ((n_words BETWEEN 30 AND 90) AND (ok_len_frac * 2 >= 1)
            AND (lang <> 'en' OR n_stop >= 1)) AS passed
    FROM m
    """,
    tags=("pipeline", "text", "quality-filter"),
)
def q_quality_filter_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style per-document quality rules with per-rule flags:
    word-count bounds, a word-shape rule (at least half the words
    3..10 chars), and an English stopword-presence rule. Emitting
    booleans per rule (rather than a filtered subset) is the
    production pattern — downstream consumers choose their cut, and
    rejected-reason stats fall out of a groupBy. Thresholds are
    integer-exact comparisons (frac*2 >= 1), so no float-ulp
    boundary risk between engines."""
    docs = load_table(spark, sf_dir, "documents")
    w = tokens()
    ok_len = F.filter(w, lambda x: (F.length(x) >= 3) & (F.length(x) <= 10))
    stops = F.array(*[F.lit(s) for s in _STOPWORDS["en"]])
    n_stop = F.size(F.filter(w, lambda x: F.array_contains(stops, x)))
    m = (docs.where(F.size(w) > 0)
         .select("doc_id", "lang",
                 F.size(w).alias("n_words"),
                 (F.size(ok_len).cast("double") / F.size(w)).alias("ok_len_frac"),
                 n_stop.alias("n_stop")))
    rule_length = F.col("n_words").between(30, 90)
    rule_shape = (F.col("ok_len_frac") * 2 >= 1)
    rule_stop = (F.col("lang") != "en") | (F.col("n_stop") >= 1)
    return m.select(
        "doc_id", "lang", "n_words",
        rule_length.alias("rule_length"),
        rule_shape.alias("rule_word_shape"),
        rule_stop.alias("rule_stopwords"),
        (rule_length & rule_shape & rule_stop).alias("passed"))


# ---------------------------------------------------------------------------
# Per-group extremes (z-score rank)
# ---------------------------------------------------------------------------

_EXTREME_TOP = 5


@register(
    "q_event_extremes",
    oracle=f"""
    WITH s AS (
        SELECT event_type,
               AVG(value) AS mu, STDDEV_SAMP(value) AS sigma
        FROM events GROUP BY 1)
    SELECT e.event_type, e.event_id,
           ROUND((e.value - s.mu) / s.sigma, 4) AS z,
           ROW_NUMBER() OVER (
               PARTITION BY e.event_type
               ORDER BY ABS(e.value - s.mu) DESC, e.event_id) AS rnk
    FROM events e JOIN s USING (event_type)
    QUALIFY rnk <= {_EXTREME_TOP}
    """,
    tags=("pipeline", "anomaly", "events"),
)
def q_event_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 most anomalous events per type by |z-score|.

    Rank-based rather than threshold-based on purpose: a `z > 2`
    WHERE clause can flip rows between engines when an observation
    sits an ulp from the cut; a row_number cut with an event_id
    tie-break is bit-stable. Ordering by |value - mu| (not z) keeps
    ranking monotone even if sigma differs in the last ulp. The
    stats are one tiny per-type aggregate, broadcast back across
    the events scan — two passes, no window over the full table."""
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sigma"))
    w = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("value") - F.col("mu")).desc(), "event_id")
    return (ev.join(F.broadcast(stats), "event_type")
            .withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= _EXTREME_TOP)
            .select("event_type", "event_id",
                    F.round((F.col("value") - F.col("mu")) / F.col("sigma"), 4)
                    .alias("z"), "rnk"))


# ---------------------------------------------------------------------------
# Full-outer reconciliation
# ---------------------------------------------------------------------------

@register(
    "q_full_outer_activity",
    oracle="""
    WITH act AS (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY 1)
    SELECT COALESCE(c.c_custkey, act.user_id) AS entity_id,
           (c.c_custkey IS NOT NULL) AS has_profile,
           (act.user_id IS NOT NULL) AS has_activity,
           COALESCE(act.n_events, 0) AS n_events
    FROM customer c FULL OUTER JOIN act ON c.c_custkey = act.user_id
    """,
    tags=("pipeline", "join", "full-outer"),
)
def q_full_outer_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profile/activity reconciliation via FULL OUTER join: every
    customer and every active user, with presence flags — the
    anti-join audit both directions at once (profiles without
    activity, activity without profiles). Pre-aggregating the event
    side to one row per user keeps the outer join key-unique, so
    the shuffle moves |keys| rows, not |events|."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    act = (load_table(spark, sf_dir, "events")
           .groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events")))
    return (cust.join(act, cust.c_custkey == act.user_id, "full_outer")
            .select(F.coalesce("c_custkey", "user_id").alias("entity_id"),
                    F.col("c_custkey").isNotNull().alias("has_profile"),
                    F.col("user_id").isNotNull().alias("has_activity"),
                    F.coalesce("n_events", F.lit(0)).alias("n_events")))


# ---------------------------------------------------------------------------
# Column profiling
# ---------------------------------------------------------------------------

@register(
    "q_profile_columns",
    oracle="""
    SELECT 'o_orderstatus' AS column_name,
           COUNT(*) - COUNT(o_orderstatus) AS n_null,
           COUNT(DISTINCT o_orderstatus) AS n_distinct,
           MIN(o_orderstatus) AS min_val, MAX(o_orderstatus) AS max_val
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', COUNT(*) - COUNT(o_orderpriority),
           COUNT(DISTINCT o_orderpriority),
           MIN(o_orderpriority), MAX(o_orderpriority)
    FROM orders
    UNION ALL
    SELECT 'o_custkey', COUNT(*) - COUNT(o_custkey),
           COUNT(DISTINCT o_custkey),
           CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
    FROM orders
    """,
    tags=("pipeline", "profiling"),
)
def q_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling summary (null count, distinct count, min/max)
    per column, stacked as rows — the schema-inference/data-quality
    pass a pipeline runs before ingesting a new source. One scan per
    profiled column here for oracle clarity; the production variant
    computes all columns in one pass of struct-typed aggregates.
    (Numeric min/max are cast to string through an integer type so
    both engines format identically; doubles are profiled via their
    own typed queries elsewhere.)"""
    orders = load_table(spark, sf_dir, "orders")

    def prof(col: str, cast_str: bool) -> DataFrame:
        mn, mx = F.min(col), F.max(col)
        if cast_str:
            mn, mx = mn.cast("string"), mx.cast("string")
        return orders.agg(
            F.lit(col).alias("column_name"),
            (F.count(F.lit(1)) - F.count(col)).alias("n_null"),
            F.countDistinct(col).alias("n_distinct"),
            mn.alias("min_val"), mx.alias("max_val"))

    return (prof("o_orderstatus", False)
            .unionAll(prof("o_orderpriority", False))
            .unionAll(prof("o_custkey", True)))


# ---------------------------------------------------------------------------
# Deterministic stratified hash sample
# ---------------------------------------------------------------------------

@register(
    "q_sample_stratified",
    oracle="""
    WITH s AS (
        SELECT lang,
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                   IN ('0','1','2','3') AS sampled
        FROM documents)
    SELECT lang,
           COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT)
               AS n_sampled,
           ROUND(CAST(SUM(CASE WHEN sampled THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 4) AS frac
    FROM s GROUP BY lang
    """,
    tags=("pipeline", "sampling"),
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~25% sample per language stratum: a document is
    sampled iff the first hex digit of md5(doc_id) is 0-3. Unlike
    rand()-based sampling this is reproducible across engines, runs
    and cluster sizes (the property that makes train/test splits
    auditable), embarrassingly parallel, and join-free. Emits the
    per-stratum sample accounting."""
    docs = load_table(spark, sf_dir, "documents")
    sampled = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) \
        .isin("0", "1", "2", "3")
    return (docs.select("lang", sampled.alias("sampled"))
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_total"),
                 F.sum(F.when(F.col("sampled"), 1).otherwise(0))
                 .cast("bigint").alias("n_sampled"),
                 F.round(F.sum(F.when(F.col("sampled"), 1).otherwise(0))
                         .cast("double") / F.count(F.lit(1)), 4).alias("frac")))


# ---------------------------------------------------------------------------
# Composed end-to-end pipeline
# ---------------------------------------------------------------------------

@register(
    "q_pipeline_e2e",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, text, {_TOKEN_SPLIT_SQL} AS w FROM documents),
    q AS (SELECT doc_id, lang, text, len(w) AS n_words
          FROM t WHERE len(w) BETWEEN 30 AND 90),
    d AS (SELECT doc_id, lang, n_words
          FROM q
          QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(text)
                                     ORDER BY doc_id) = 1)
    SELECT doc_id, lang, n_words FROM d
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1','2','3')
    """,
    tags=("pipeline", "e2e", "dedup", "sampling"),
)
def q_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed corpus-preparation pipeline in one plan: quality
    filter (word-count bounds) -> exact dedup with keep-lowest-id
    survivor -> deterministic 25% hash sample. Because it is a
    single declarative plan, Catalyst fuses the stages: the filter
    and both hash computations happen in the scan's codegen stage,
    and the only shuffle is the dedup window's hash partition by
    content hash. This is the skeleton every training-data refresh
    runs at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    w = tokens()
    q = (docs.withColumn("n_words", F.size(w))
         .where(F.col("n_words").between(30, 90)))
    win = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    d = (q.withColumn("rn", F.row_number().over(win))
         .where(F.col("rn") == 1))
    sampled = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) \
        .isin("0", "1", "2", "3")
    return d.where(sampled).select("doc_id", "lang", "n_words")


# ---------------------------------------------------------------------------
# Approximate quantile sketch
# ---------------------------------------------------------------------------

@register(
    "q_approx_quantiles",
    oracle=None,  # sketch estimates are engine-specific; rows-only check —
                  # tests/test_approx.py bounds the error vs DuckDB exact
    tags=("pipeline", "approx", "quantiles"),
)
def q_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-price quantiles per order priority via percentile_approx
    (Greenwald-Khanna sketch) — the 100 TB answer to exact
    percentiles: mergeable per-partition sketches, one pass, bounded
    memory, no global sort. The unit test bounds each estimate's
    rank error against the exact DuckDB quantiles."""
    orders = load_table(spark, sf_dir, "orders")
    return (orders.groupBy("o_orderpriority")
            .agg(*[F.percentile_approx("o_totalprice", q, 10000)
                   .alias(f"p{int(q * 100)}")
                   for q in (0.25, 0.5, 0.75, 0.95)]))


# ---------------------------------------------------------------------------
# Vocabulary build
# ---------------------------------------------------------------------------

_VOCAB_MIN_COUNT = 5


@register(
    "q_vocab_rank_scalable",
    oracle=f"""
    WITH tok AS (
        SELECT unnest({_TOKEN_SPLIT_SQL}) AS token FROM documents),
    c AS (SELECT token, COUNT(*) AS n FROM tok GROUP BY 1
          HAVING COUNT(*) >= {_VOCAB_MIN_COUNT})
    SELECT token, n,
           ROW_NUMBER() OVER (ORDER BY n DESC, token) AS vocab_id
    FROM c
    """,
    tags=("pipeline", "text", "vocabulary", "distributed-rank"),
)
def q_vocab_rank_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary with a min-count cut and frequency-ranked
    ids — the tokenizer-training precursor. Explode -> count is one
    map-side-combined aggregation; the global row_number over the
    post-cut counts is computed WITHOUT any corpus-sized
    single-partition window, the pattern for ranking arbitrarily
    large relations.

    Two-pass range rank (functions/ranking.distributed_row_number):
    (1) repartitionByRange on the rank order, so
    partition p holds exactly the rows ranking before partition p+1
    (the composite key (n desc, token) is unique — counts are
    per-token — so no tie straddles a boundary); row_number WITHIN
    each partition is shuffle-parallel. (2) per-partition row counts
    — at most ``spark.sql.shuffle.partitions`` rows — are prefix-
    summed into base offsets and broadcast back. Global rank =
    partition base + local rank. The only global-order window in the
    plan runs over the partition-counts relation, bounded by a conf,
    never by data. Tested equal to its oracle's plain global window
    and invariant to the partition count (tests/test_vocab_rank.py)."""
    from my_mapreduce_spark.functions.ranking import distributed_row_number

    docs = load_table(spark, sf_dir, "documents")
    counts = (docs.select(F.explode(tokens()).alias("token"))
              .groupBy("token").agg(F.count(F.lit(1)).alias("n"))
              .where(F.col("n") >= _VOCAB_MIN_COUNT))
    return distributed_row_number(
        counts, [F.col("n").desc(), F.col("token")],
        out="vocab_id").select("token", "n", "vocab_id")


# ---------------------------------------------------------------------------
# Time-hierarchy rollup over events (hypertable-style)
# ---------------------------------------------------------------------------

@register(
    "q_events_time_rollup",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           CASE WHEN GROUPING(hour(ts)) = 0
                THEN CAST(hour(ts) AS BIGINT) ELSE NULL END AS hr,
           COUNT(*) AS n_events,
           SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS sum_value
    FROM events
    GROUP BY ROLLUP (strftime(date_trunc('day', ts), '%Y-%m-%d'), hour(ts))
    HAVING GROUPING(strftime(date_trunc('day', ts), '%Y-%m-%d')) = 0
    """,
    tags=("pipeline", "rollup", "events", "time"),
)
def q_events_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style time-hierarchy rollup: event counts and value
    sums at (day, hour) plus per-day subtotals, in one pass via
    GROUP BY ROLLUP (partial aggregation handles both grains in the
    same shuffle — no second scan for the coarser level). The grand
    -total row is dropped (HAVING on GROUPING) to keep day non-null."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_format("ts", "yyyy-MM-dd")
    hr = F.hour("ts").cast("bigint")
    return (ev.rollup(day.alias("day"), hr.alias("hr"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 (F.sum(F.round(F.col("value") * 100).cast("bigint")) / 100.0).alias("sum_value"))
            .where(F.col("day").isNotNull()))


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance (partial-merge)
# ---------------------------------------------------------------------------

_INCR_SPLIT = "2024-01-10 00:00:00"


@register(
    "q_incremental_agg_merge",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           event_type,
           COUNT(*) AS n_events,
           SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("pipeline", "incremental", "events"),
)
def q_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup maintenance: the daily aggregate is NOT
    recomputed from scratch — a 'materialized' partial over the old
    data (ts < split) is merged with a partial over the new arrivals
    by re-aggregating (sum of counts, sum of sums). Counts and sums
    are algebraic, so merge(partial(a), partial(b)) == full(a+b) and
    the oracle is the plain full aggregate. This is the maintenance
    loop of every incremental pipeline: at 100 TB the old partial is
    a small materialized table and only the delta is scanned."""
    ev = load_table(spark, sf_dir, "events")
    split = F.lit(_INCR_SPLIT).cast("timestamp")
    day = F.date_format("ts", "yyyy-MM-dd").alias("day")

    cents = F.round(F.col("value") * 100).cast("bigint")

    def partial(df: DataFrame) -> DataFrame:
        return (df.groupBy(day, "event_type")
                .agg(F.count(F.lit(1)).alias("pn"), F.sum(cents).alias("pv")))

    merged = partial(ev.where(F.col("ts") < split)) \
        .unionAll(partial(ev.where(F.col("ts") >= split)))
    return (merged.groupBy("day", "event_type")
            .agg(F.sum("pn").alias("n_events"),
                 (F.sum("pv") / 100.0).alias("sum_value")))


# ---------------------------------------------------------------------------
# MERGE-style upsert apply
# ---------------------------------------------------------------------------

@register(
    "q_merge_upsert",
    oracle="""
    WITH latest AS (
        SELECT user_id, ROUND(value, 4) AS last_value
        FROM events
        QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) = 1)
    SELECT COALESCE(c.c_custkey, l.user_id) AS entity_id,
           CASE WHEN c.c_custkey IS NULL THEN 'insert'
                WHEN l.user_id IS NULL THEN 'keep'
                ELSE 'update' END AS action,
           ROUND(COALESCE(l.last_value, c.c_acctbal), 4) AS new_balance
    FROM customer c FULL OUTER JOIN latest l ON c.c_custkey = l.user_id
    """,
    tags=("pipeline", "merge", "upsert", "cdc"),
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics without a table format: apply the CDC
    latest-state (last event value per user) onto the customer
    snapshot — matched keys update, unmatched source keys insert,
    unmatched target keys keep. Expressed as one full-outer join +
    coalesce, which is exactly the join Delta/Iceberg MERGE plans
    under the hood; both sides are key-unique so the shuffle moves
    |keys| rows. The action column makes the write-side decision
    auditable."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(),
                                              F.col("event_id").desc())
    latest = (load_table(spark, sf_dir, "events")
              .withColumn("rn", F.row_number().over(w))
              .where(F.col("rn") == 1)
              .select("user_id", F.round("value", 4).alias("last_value")))
    return (
        cust.join(latest, cust.c_custkey == latest.user_id, "full_outer")
        .select(
            F.coalesce("c_custkey", "user_id").alias("entity_id"),
            F.when(F.col("c_custkey").isNull(), "insert")
            .when(F.col("user_id").isNull(), "keep")
            .otherwise("update").alias("action"),
            F.round(F.coalesce("last_value", "c_acctbal"), 4)
            .alias("new_balance")))


# ---------------------------------------------------------------------------
# SCD2 history intervals
# ---------------------------------------------------------------------------

@register(
    "q_scd2_intervals",
    oracle="""
    SELECT user_id,
           event_id,
           ROUND(value, 4) AS value,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
           COALESCE(strftime(LEAD(ts) OVER w, '%Y-%m-%d %H:%M:%S'),
                    '9999-12-31 00:00:00') AS valid_to,
           (LEAD(ts) OVER w IS NULL) AS is_current
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    tags=("pipeline", "scd2", "cdc", "window"),
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) history build: each per-user
    event becomes a [valid_from, valid_to) version row, closed by the
    next event's timestamp (lead) and open-ended for the current
    version. One key-partitioned window over the change log — the
    standard log-to-history transform; at 100 TB it shuffles once on
    the entity key and streams within partitions."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    fmt = "yyyy-MM-dd HH:mm:ss"
    return ev.select(
        "user_id", "event_id",
        F.round("value", 4).alias("value"),
        F.date_format("ts", fmt).alias("valid_from"),
        F.coalesce(F.date_format(nxt, fmt), F.lit("9999-12-31 00:00:00"))
        .alias("valid_to"),
        nxt.isNull().alias("is_current"))


@register(
    "q_data_card",
    oracle="""
    WITH t AS (
        SELECT doc_id, source, lang, n_chars,
               list_filter(regexp_split_to_array(text, '[^a-z0-9]+'),
                           x -> x <> '') AS w,
               md5(text) AS h
        FROM documents),
    m AS (
        SELECT doc_id, source, lang, n_chars, h,
               len(w) AS n_words,
               len(list_distinct(w)) * 1.0 / len(w) AS ttr
        FROM t)
    SELECT source,
           COUNT(*)                                   AS n_docs,
           COUNT(DISTINCT lang)                       AS n_langs,
           COUNT(DISTINCT h)                          AS n_distinct_contents,
           CAST(SUM(n_words) AS BIGINT)               AS total_words,
           ROUND(AVG(n_chars), 4)                     AS avg_chars,
           ROUND(AVG(ttr), 6)                         AS avg_type_token_ratio,
           ROUND(AVG(CASE WHEN n_chars >= 200 THEN 1.0 ELSE 0.0 END), 6)
                                                      AS frac_long
    FROM m GROUP BY source
    """,
    tags=("pipeline", "data-card", "reporting"),
)
def q_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card rollup per source: corpus composition (docs,
    languages, distinct contents), volume (words, mean length),
    lexical diversity, and a long-document fraction — the one-page
    summary every published dataset ships. Single scan + one
    source-keyed aggregation; every metric is an algebraic aggregate
    (map-side partial) so the shuffle carries one row per source."""
    docs = load_table(spark, sf_dir, "documents")
    w = tokens()
    m = docs.select(
        "source", "lang", "n_chars",
        F.md5("text").alias("h"),
        F.size(w).alias("n_words"),
        (F.size(F.array_distinct(w)) / F.size(w)).alias("ttr"))
    return (m.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.count_distinct("lang").alias("n_langs"),
                 F.count_distinct("h").alias("n_distinct_contents"),
                 F.sum("n_words").alias("total_words"),
                 F.round(F.avg("n_chars"), 4).alias("avg_chars"),
                 F.round(F.avg("ttr"), 6).alias("avg_type_token_ratio"),
                 F.round(F.avg(F.when(F.col("n_chars") >= 200, 1.0)
                               .otherwise(0.0)), 6).alias("frac_long")))


@register(
    "q_event_transitions",
    oracle="""
    WITH s AS (
        SELECT user_id, event_type, ts,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_type
        FROM events),
    p AS (
        SELECT prev_type, event_type, COUNT(*) AS n
        FROM s WHERE prev_type IS NOT NULL
        GROUP BY 1, 2),
    tot AS (SELECT prev_type, SUM(n) AS n_from FROM p GROUP BY 1)
    SELECT p.prev_type, p.event_type AS next_type, p.n,
           ROUND(p.n * 1.0 / tot.n_from, 6) AS transition_prob
    FROM p JOIN tot USING (prev_type)
    """,
    tags=("analytics", "sequence", "markov"),
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current), from a user-partitioned
    lag window (ordered by ts with event_id as the deterministic
    tie-break) and two small aggregations. The window never crosses
    users, so the sequence reconstruction parallelizes by user key
    at any scale; the transition matrix itself is event-type² tiny."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select("user_id", "event_type",
                  F.lag("event_type").over(w).alias("prev_type"))
    p = (s.where(F.col("prev_type").isNotNull())
         .groupBy("prev_type", F.col("event_type").alias("next_type"))
         .agg(F.count(F.lit(1)).alias("n")))
    tot = p.groupBy("prev_type").agg(F.sum("n").alias("n_from"))
    return (p.join(tot, "prev_type")
            .select("prev_type", "next_type", "n",
                    F.round(F.col("n") / F.col("n_from"), 6)
                    .alias("transition_prob")))


@register(
    "q_dq_checks",
    oracle="""
    SELECT 'lineitem_orphan_orderkey' AS check_name,
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey))
               AS n_violations
    UNION ALL
    SELECT 'orders_orphan_custkey',
           (SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'lineitem_nonpositive_price',
           (SELECT COUNT(*) FROM lineitem WHERE l_extendedprice <= 0)
    UNION ALL
    SELECT 'lineitem_discount_range',
           (SELECT COUNT(*) FROM lineitem
            WHERE l_discount < 0 OR l_discount > 0.1)
    UNION ALL
    SELECT 'lineitem_tax_range',
           (SELECT COUNT(*) FROM lineitem
            WHERE l_tax < 0 OR l_tax > 0.08)
    UNION ALL
    SELECT 'orders_null_priority',
           (SELECT COUNT(*) FROM orders WHERE o_orderpriority IS NULL)
    UNION ALL
    SELECT 'events_value_negative',
           (SELECT COUNT(*) FROM events WHERE value < 0)
    UNION ALL
    SELECT 'documents_chars_mismatch',
           (SELECT COUNT(*) FROM documents
            WHERE length(text) <> n_chars)
    """,
    tags=("pipeline", "quality", "integrity"),
)
def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectation suite over the star
    schema: referential integrity (anti-join orphan counts), domain
    ranges, ordering invariants, null contracts, and a derived-
    column consistency check — the pre-ingest gate a production
    pipeline runs before promoting a batch, emitted as one
    (check, violations) relation a scheduler can assert on.

    Each integrity check is an anti join on its FK (broadcast where
    the parent is dimension-sized); range/null checks are pushdown
    filters + counts, one scan each. Everything unions into an
    8-row frame — cost is bounded by the two FK anti joins.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    ev = load_table(spark, sf_dir, "events")
    docs = load_table(spark, sf_dir, "documents")

    def check(name, cnt_df):
        return cnt_df.select(F.lit(name).alias("check_name"),
                             F.col("n").cast("bigint")
                             .alias("n_violations"))

    checks = [
        check("lineitem_orphan_orderkey",
              li.join(orders, li.l_orderkey == orders.o_orderkey,
                      "left_anti").agg(F.count(F.lit(1)).alias("n"))),
        check("orders_orphan_custkey",
              orders.join(cust, orders.o_custkey == cust.c_custkey,
                          "left_anti").agg(F.count(F.lit(1)).alias("n"))),
        check("lineitem_nonpositive_price",
              li.where(F.col("l_extendedprice") <= 0)
              .agg(F.count(F.lit(1)).alias("n"))),
        check("lineitem_discount_range",
              li.where((F.col("l_discount") < 0)
                       | (F.col("l_discount") > 0.1))
              .agg(F.count(F.lit(1)).alias("n"))),
        check("lineitem_tax_range",
              li.where((F.col("l_tax") < 0) | (F.col("l_tax") > 0.08))
              .agg(F.count(F.lit(1)).alias("n"))),
        check("orders_null_priority",
              orders.where(F.col("o_orderpriority").isNull())
              .agg(F.count(F.lit(1)).alias("n"))),
        check("events_value_negative",
              ev.where(F.col("value") < 0)
              .agg(F.count(F.lit(1)).alias("n"))),
        check("documents_chars_mismatch",
              docs.where(F.length("text") != F.col("n_chars"))
              .agg(F.count(F.lit(1)).alias("n"))),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionAll(c)
    return out


_COV_PCTS = (50, 80, 90, 95, 99)


@register(
    "q_vocab_coverage_curve",
    oracle=f"""
    WITH tok AS (
        SELECT unnest({_TOKEN_SPLIT_SQL}) AS token FROM documents),
    c AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n
          FROM tok GROUP BY 1),
    r AS (
        SELECT n,
               CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token)
                    AS BIGINT) AS vocab_size,
               CAST(SUM(n) OVER (ORDER BY n DESC, token
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum
        FROM c),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c),
    p AS (SELECT CAST(UNNEST([{', '.join(str(p) for p in _COV_PCTS)}])
                      AS BIGINT) AS pct)
    SELECT pct, CAST(MIN(vocab_size) AS BIGINT) AS vocab_size,
           CAST(MIN(cum) AS BIGINT) AS covered_tokens,
           CAST(MAX(total) AS BIGINT) AS total_tokens,
           ROUND(MIN(cum) * 1.0 / MAX(total), 6) AS coverage
    FROM r CROSS JOIN t CROSS JOIN p
    WHERE cum * 100 >= pct * total
    GROUP BY pct
    """,
    tags=("pipeline", "vocabulary", "coverage", "distributed-rank"),
)
def q_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-coverage curve for vocabulary sizing: the smallest
    frequency-ranked vocabulary that covers {50, 80, 90, 95, 99}%
    of all token OCCURRENCES — the tokenizer-design question
    ("how big must the vocab be before <unk> is rare?") answered
    exactly. Crossings are integer comparisons (cum·100 ≥ pct·total)
    so the reported sizes are exact, not float-threshold artifacts;
    cum is strictly increasing, so MIN(vocab_size) and MIN(cum)
    name the same boundary row.

    Scale shape: the count relation is vocabulary-bounded; BOTH
    global-order passes over it ride the two-pass machinery —
    distributed_prefix_sum for the running coverage,
    distributed_row_number for the rank — so even a billion-type
    vocabulary never crosses one task (windows touch only the
    conf-bounded per-partition summaries). The 5-row threshold
    literal and 1-row total are whitelisted tiny broadcasts.
    """
    from my_mapreduce_spark.functions.ranking import (
        distributed_prefix_sum,
        distributed_row_number,
    )

    docs = load_table(spark, sf_dir, "documents")
    counts = (docs.select(F.explode(tokens()).alias("token"))
              .groupBy("token").agg(F.count(F.lit(1)).alias("n")))
    order = [F.col("n").desc(), F.col("token")]
    cum = distributed_prefix_sum(counts, order, F.col("n"), out="cum")
    ranked = distributed_row_number(cum, order, out="vocab_size")
    total = counts.agg(F.sum("n").cast("long").alias("total"))
    pcts = (spark.range(1).select(
        F.explode(F.array(*[F.lit(p) for p in _COV_PCTS])).alias("p0"))
        .select(F.col("p0").cast("long").alias("pct")))
    j = (ranked.crossJoin(F.broadcast(total))
         .crossJoin(F.broadcast(pcts))
         .where(F.col("cum") * 100 >= F.col("pct") * F.col("total")))
    return (j.groupBy("pct")
            .agg(F.min("vocab_size").cast("bigint").alias("vocab_size"),
                 F.min("cum").cast("bigint").alias("covered_tokens"),
                 F.max("total").cast("bigint").alias("total_tokens"),
                 F.round(F.min("cum") * 1.0 / F.max("total"), 6)
                 .alias("coverage")))


_RESERVOIR_K = 5


@register(
    "q_group_sample_exact_k",
    oracle=f"""
    WITH keyed AS (
        SELECT source, doc_id, n_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                   AS sample_rank
        FROM documents)
    SELECT source, doc_id, n_chars, sample_rank
    FROM keyed WHERE sample_rank <= {_RESERVOIR_K}
    """,
    tags=("pipeline", "sampling"),
)
def q_group_sample_exact_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY k documents per source, deterministically: rank each
    group by md5(doc_id) and keep the first k — the distributed,
    engine-reproducible equivalent of per-group reservoir sampling
    (a hash order is a fixed random permutation, so any prefix of it
    IS a uniform k-sample, and re-runs / other engines / other
    cluster sizes pick the identical rows).

    Complements q_sample_stratified (Bernoulli RATE per stratum —
    sample size varies) with the fixed-BUDGET shape training
    pipelines need ("exactly 100k docs per source for the eval
    slice"). One shuffle on source; the rank window never sees more
    than one group per partition slot. At 100 TB with a large k,
    swap the window for per-partition partial top-k (the
    TakeOrderedAndProject trick q_topk_orders pins) — at k=5 the
    window is already optimal.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = (Window.partitionBy("source")
         .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id"))
    return (docs.select("source", "doc_id", "n_chars")
            .withColumn("sample_rank", F.row_number().over(w))
            .where(F.col("sample_rank") <= _RESERVOIR_K))
