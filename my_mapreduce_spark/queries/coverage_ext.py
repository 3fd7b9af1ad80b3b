"""Coverage extensions: distribution window functions, range frames,
explicit GROUPING SETS, lateral/positional explode, array
higher-order functions, embedding centroids, corpus n-gram stats.

All absent from the reference (SURVEY.md §2C) — this is north-star
relational/vector breadth, every query oracle-checked.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from my_mapreduce_spark.functions.text import shingles, tokens
from my_mapreduce_spark.io import (audit_workdir, load_table,
                                   widen_unsplittable_scan)
from my_mapreduce_spark.registry import register, register_audit_plan


@register(
    "q_window_distribution",
    oracle="""
    WITH r AS (
        SELECT c_custkey, c_nationkey,
               CAST(ntile(4) OVER w AS BIGINT) AS quartile,
               CAST(row_number() OVER w AS BIGINT) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY c_nationkey) AS BIGINT) AS n
        FROM customer
        WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey))
    SELECT c_custkey, c_nationkey, quartile,
           CASE WHEN n = 1 THEN 0.0
                ELSE ((2 * (rn - 1) * 1000000 + (n - 1))
                      // (2 * (n - 1))) / 1e6 END AS pct_rank,
           ((2 * rn * 1000000 + n) // (2 * n)) / 1e6 AS cume
    FROM r
    """,
    tags=("window", "distribution"),
)
def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile/percent_rank/cume_dist over account balance per nation.
    The order key includes c_custkey so the order is TOTAL — which
    both makes ntile's positional split deterministic and collapses
    percent_rank/cume_dist to exact integer rationals (rank-1)/(n-1)
    and rn/n, rounded half-up at 6 dp in bigint arithmetic. The
    built-in float forms hit true decimal ties (e.g. 41/640 =
    .0640625) where Spark's BigDecimal half-up and DuckDB's
    multiply-round disagree — the sf0.1 sweep caught exactly that."""
    cu = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    part = Window.partitionBy("c_nationkey")
    r = cu.select(
        "c_custkey", "c_nationkey",
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(part).cast("bigint").alias("n"))
    return r.select(
        "c_custkey", "c_nationkey", "quartile",
        F.when(F.col("n") == 1, F.lit(0.0))
        .otherwise(F.expr("(2 * (rn - 1) * 1000000 + (n - 1)) "
                          "DIV (2 * (n - 1))") / 1e6).alias("pct_rank"),
        (F.expr("(2 * rn * 1000000 + n) DIV (2 * n)") / 1e6).alias("cume"))


@register(
    "q_window_range_frame",
    oracle="""
    SELECT o_orderkey, o_custkey,
           ROUND(SUM(o_totalprice) OVER (
               PARTITION BY o_custkey
               ORDER BY date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               RANGE BETWEEN 30 PRECEDING AND CURRENT ROW), 4) AS sum_30d
    FROM orders
    """,
    tags=("window", "frame", "range"),
)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True RANGE frame: per customer, rolling 30-day order value
    (value-based frame over epoch days, not row counts). One shuffle
    on the partition key; the frame scan is per-partition."""
    o = load_table(spark, sf_dir, "orders")
    w = (Window.partitionBy("o_custkey")
         .orderBy(F.datediff(F.col("o_orderdate").cast("date"),
                             F.lit("1970-01-01").cast("date")))
         .rangeBetween(-30, Window.currentRow))
    return o.select(
        "o_orderkey", "o_custkey",
        F.round(F.sum("o_totalprice").over(w), 4).alias("sum_30d"))


@register(
    "q_grouping_sets",
    oracle="""
    SELECT n_name, c_mktsegment,
           COUNT(*) AS n_cust,
           ROUND(SUM(c_acctbal), 4) AS sum_bal,
           CAST(GROUPING(n_name) AS BIGINT) AS g_nation,
           CAST(GROUPING(c_mktsegment) AS BIGINT) AS g_seg
    FROM customer JOIN nation ON n_nationkey = c_nationkey
    GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())
    """,
    tags=("aggregate", "grouping-sets"),
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond rollup/cube): per-nation,
    per-segment, and grand-total rows in one pass, with GROUPING()
    flags disambiguating the generated nulls."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_v")
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation_v")
    return spark.sql("""
        SELECT n_name, c_mktsegment,
               COUNT(*) AS n_cust,
               ROUND(SUM(c_acctbal), 4) AS sum_bal,
               CAST(GROUPING(n_name) AS BIGINT) AS g_nation,
               CAST(GROUPING(c_mktsegment) AS BIGINT) AS g_seg
        FROM customer_v JOIN nation_v ON n_nationkey = c_nationkey
        GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())
    """)


@register(
    "q_posexplode_tokens",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '[^a-z0-9]+'),
                           x -> x <> '') AS w
        FROM documents)
    SELECT doc_id, CAST(i AS BIGINT) AS pos, w[i + 1] AS token
    FROM t, UNNEST(range(0, least(5, len(w)))) AS u(i)
    """,
    tags=("relational", "explode", "lateral"),
)
def q_posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional lateral explode: first 5 tokens of every document
    with their positions (posexplode = UNNEST WITH ORDINALITY)."""
    docs = load_table(spark, sf_dir, "documents")
    return (docs.select("doc_id",
                        F.posexplode(F.slice(tokens(), 1, 5)).alias("pos", "token"))
            .select("doc_id", F.col("pos").cast("bigint").alias("pos"), "token"))


@register(
    "q_array_hof",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS BIGINT) AS dim,
           ROUND(sqrt(list_dot_product(
               list_transform(embedding, x -> CAST(x AS DOUBLE)),
               list_transform(embedding, x -> CAST(x AS DOUBLE)))), 6) AS l2_norm,
           ROUND(list_max(list_transform(embedding, x -> CAST(x AS DOUBLE))), 6)
               AS max_elem,
           CAST(len(list_filter(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                x -> x > 0)) AS BIGINT) AS n_positive
    FROM embeddings
    """,
    tags=("array", "hof", "embedding"),
)
def q_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order functions over the vector column: length,
    L2 norm (aggregate fold), max element, positive-element count
    (filter) — all JVM-side, no explode, no shuffle."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    dot = F.aggregate(F.zip_with(v, v, lambda a, b: a * b),
                      F.lit(0.0), lambda acc, x: acc + x)
    return emb.select(
        "vec_id",
        F.size("embedding").cast("bigint").alias("dim"),
        F.round(F.sqrt(dot), 6).alias("l2_norm"),
        F.round(F.array_max(v), 6).alias("max_elem"),
        F.size(F.filter(v, lambda x: x > 0)).cast("bigint").alias("n_positive"),
    )


@register(
    "q_embedding_centroids",
    oracle="""
    WITH e AS (
        SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings)
    SELECT label, CAST(i AS BIGINT) AS pos,
           ROUND(AVG(v[i + 1]), 6) AS centroid,
           COUNT(*) AS n_vecs
    FROM e, UNNEST(range(0, len(v))) AS u(i)
    GROUP BY label, i
    """,
    tags=("embedding", "aggregate", "centroid"),
)
def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid in long form (label, dim position, mean):
    posexplode + hash agg — the distributed way to average vectors
    (the wide-form alternative assembles arrays after the agg; the
    shuffle moves |labels| x dim partial sums either way)."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return (
        emb.select("label", F.posexplode(v).alias("pos", "x"))
        .groupBy("label", F.col("pos").cast("bigint").alias("pos"))
        .agg(F.round(F.avg("x"), 6).alias("centroid"),
             F.count(F.lit(1)).alias("n_vecs"))
    )


@register(
    "q_top_bigrams",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '[^a-z0-9]+'),
                           x -> x <> '') AS w
        FROM documents),
    b AS (
        SELECT array_to_string(w[i:i+1], ' ') AS bigram
        FROM t, UNNEST(range(1, len(w))) AS u(i)
        WHERE len(w) >= 2)
    SELECT bigram, COUNT(*) AS n
    FROM b GROUP BY bigram
    ORDER BY n DESC, bigram LIMIT 10
    """,
    tags=("text", "ngram", "topk"),
)
def q_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-10 bigrams: tokenize → 2-gram shingles →
    count → deterministic top-k (count desc, bigram asc). The
    explode fans out but the count is map-side partial; only
    |distinct bigrams| rows shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    withw = docs.select(tokens().alias("w")).where(F.size("w") >= 2)
    return (
        withw.select(F.explode(shingles(F.col("w"), n=2)).alias("bigram"))
        .groupBy("bigram").agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "bigram").limit(10)
    )


@register(
    "q_unpivot_metrics",
    oracle="""
    SELECT l_returnflag, metric,
           ROUND(SUM(val), 2) AS total,
           ROUND(AVG(val), 6) AS mean
    FROM (
        SELECT l_returnflag, 'quantity' AS metric, l_quantity AS val FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'extendedprice', l_extendedprice FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'discount', l_discount FROM lineitem)
    GROUP BY l_returnflag, metric
    """,
    tags=("relational", "unpivot"),
)
def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long reshaping (unpivot/melt, the inverse of
    q_pivot_status): three measure columns become (metric, val)
    rows, then aggregate per flag x metric. Spark's native unpivot
    is a zero-shuffle row expansion; only the final aggregation
    exchanges."""
    li = load_table(spark, sf_dir, "lineitem")
    long = li.unpivot(
        "l_returnflag",
        ["l_quantity", "l_extendedprice", "l_discount"],
        "metric", "val")
    metric = (F.when(F.col("metric") == "l_quantity", "quantity")
              .when(F.col("metric") == "l_extendedprice", "extendedprice")
              .otherwise("discount"))
    return (long.select("l_returnflag", metric.alias("metric"), "val")
            .groupBy("l_returnflag", "metric")
            .agg(F.round(F.sum("val"), 2).alias("total"),
                 F.round(F.avg("val"), 6).alias("mean")))


@register(
    "q_gaps_islands",
    oracle="""
    WITH o AS (
        SELECT o_custkey,
               year(o_orderdate) * 12 + month(o_orderdate) AS ym
        FROM orders GROUP BY 1, 2),
    g AS (
        SELECT o_custkey, ym,
               ym - ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY ym)
                   AS grp
        FROM o)
    SELECT o_custkey,
           MIN(ym) AS streak_start_ym,
           MAX(ym) AS streak_end_ym,
           CAST(COUNT(*) AS BIGINT) AS streak_months
    FROM g GROUP BY o_custkey, grp
    HAVING COUNT(*) >= 3
    """,
    tags=("window", "gaps-islands", "analytics"),
)
def q_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of consecutive active months
    per customer (streaks >= 3 months), via the classic
    value-minus-row_number grouping trick — consecutive months share
    (ym - rn). One customer-partitioned window + one hash agg; the
    window never crosses customers, so it parallelizes by key at any
    scale."""
    orders = load_table(spark, sf_dir, "orders")
    ym = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("ym")
    o = orders.select("o_custkey", ym).distinct()
    w = Window.partitionBy("o_custkey").orderBy("ym")
    g = o.withColumn("grp", F.col("ym") - F.row_number().over(w))
    return (g.groupBy("o_custkey", "grp")
            .agg(F.min("ym").alias("streak_start_ym"),
                 F.max("ym").alias("streak_end_ym"),
                 F.count(F.lit(1)).alias("streak_months"))
            .where(F.col("streak_months") >= 3)
            .drop("grp"))


@register(
    "q_fuzzy_name_match",
    oracle="""
    WITH n AS (
        SELECT DISTINCT p_name,
               split_part(p_name, ' ', 2) AS noun
        FROM part)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
    FROM n a JOIN n b
      ON a.noun = b.noun AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
    tags=("text", "fuzzy", "entity-resolution"),
)
def q_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching: distinct part-name pairs within edit
    distance 3, BLOCKED on the head noun so the quadratic
    levenshtein comparison runs only inside blocks — the standard
    blocking-key design that keeps fuzzy dedup linear-ish at scale
    (never an unblocked all-pairs; the block key shuffles both sides
    to the same reducer). Levenshtein is exact and identical in both
    engines."""
    part = load_table(spark, sf_dir, "part")
    n = (part.select("p_name")
         .distinct()
         .withColumn("noun", F.split_part(F.col("p_name"), F.lit(" "), F.lit(2))))
    a, b = n.alias("a"), n.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (a.join(b, (F.col("a.noun") == F.col("b.noun"))
                   & (F.col("a.p_name") < F.col("b.p_name")))
            .where(dist <= 3)
            .select(F.col("a.p_name").alias("name_a"),
                    F.col("b.p_name").alias("name_b"),
                    dist.cast("bigint").alias("edit_dist")))


_ED1_TOP = 500


@register(
    "q_editdist1_join",
    oracle=f"""
    WITH n AS (SELECT DISTINCT c_name FROM customer),
    pairs AS (
        SELECT a.c_name AS name_a, b.c_name AS name_b
        FROM n a JOIN n b ON a.c_name < b.c_name
        WHERE levenshtein(a.c_name, b.c_name) = 1)
    SELECT name_a, name_b,
           CASE WHEN length(name_a) = length(name_b)
                THEN 'sub' ELSE 'indel' END AS kind
    FROM pairs ORDER BY name_a, name_b LIMIT {_ED1_TOP}
    """,
    tags=("text", "fuzzy", "entity-resolution", "editdist"),
)
def q_editdist1_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-1 self-join on customer names via the DELETION
    NEIGHBORHOOD: each name emits itself plus every
    single-character-deletion variant; two names are within edit
    distance 1 iff their variant sets intersect (substitution:
    deleting the differing position from both yields the same
    string; insertion/deletion: the shorter name IS a variant of
    the longer), so grouping by variant is a LOSSLESS candidate
    generator — unlike q_fuzzy_name_match's blocking key, which is
    a recall heuristic — and the final ``levenshtein = 1`` check
    removes the false positives (variant collisions from different
    delete positions). First 500 pairs in name order, classified
    sub vs indel.

    Scale shape: fan-out is length+1 variants per name (bounded by
    the name-length cap; array_distinct stops repeated characters
    double-emitting), then ONE variant-keyed shuffle groups
    colliding names and the candidate pairs generate ARRAY-LOCALLY
    inside each group (combination explode — groups are
    names-agreeing-everywhere-but-one-position, collision-sized,
    never all-pairs), so no self-join ever materializes; the
    quadratic levenshtein runs only on candidates and the output
    is TakeOrderedAndProject-bounded. This is the FastSS /
    SymSpell single-error scheme as one keyed shuffle plus a
    distinct. Reference parity: none; north-star §2D
    entity-resolution depth.
    """
    names = (load_table(spark, sf_dir, "customer")
             .select("c_name").distinct())
    # the deletion-variant explode + collect_set grouping is the
    # query's cost and AQE coalesces the tiny distinct output to one
    # partition on BYTE grounds (the advisory size cannot see CPU
    # density) — pin the stage's parallelism with an explicit
    # partition count AQE may not re-coalesce; the count is a FLOOR
    # at the configured shuffle width (round-11 advice: a bare
    # repartition(dp) is an exact count and would REDUCE a cluster's
    # wider post-shuffle parallelism), and the extra exchange
    # carries only the name column
    names = names.repartition(
        max(spark.sparkContext.defaultParallelism,
            int(spark.conf.get("spark.sql.shuffle.partitions"))),
        F.col("c_name"))
    var = names.select(
        "c_name",
        F.explode(F.array_distinct(F.concat(
            F.array(F.col("c_name")),
            F.transform(
                F.sequence(F.lit(1), F.length("c_name")),
                lambda i: F.concat(
                    F.col("c_name").substr(F.lit(1), i - 1),
                    F.col("c_name").substr(i + 1, F.length("c_name"))))))
        ).alias("v"))
    grp = (var.groupBy("v")
           .agg(F.array_sort(F.collect_set("c_name")).alias("ns"))
           .where(F.size("ns") >= 2))
    cand = (grp.select(F.explode(F.expr("""
        flatten(transform(ns, (x, i) ->
          transform(slice(ns, i + 2, size(ns)), y ->
            struct(x AS name_a, y AS name_b))))""")).alias("p"))
            .select("p.*").distinct())
    hits = cand.where(F.levenshtein("name_a", "name_b") == 1)
    return (hits
            .select("name_a", "name_b",
                    F.when(F.length("name_a") == F.length("name_b"),
                           "sub").otherwise("indel").alias("kind"))
            .orderBy("name_a", "name_b").limit(_ED1_TOP))


@register(
    "q_bool_aggregates",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(*) FILTER (WHERE value > 50) AS BIGINT) AS n_high,
           bool_and(value > 0)   AS all_positive,
           bool_or(value > 100)  AS any_huge,
           bool_and(CASE WHEN value > 50 THEN TRUE
                         WHEN value < 10 THEN FALSE END) AS band_and,
           bool_or(CASE WHEN value > 50 THEN TRUE
                        WHEN value < 10 THEN FALSE END)  AS band_or
    FROM events GROUP BY event_type
    """,
    tags=("aggregates", "boolean", "null-semantics", "events"),
)
def q_bool_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregate surface with three-valued-logic semantics:
    ``bool_and`` / ``bool_or`` / filtered counts per event type, with
    one CASE expression deliberately yielding NULL for the 10..50
    band — SQL aggregates SKIP NULLs, so ``band_and`` is the AND over
    only the classified rows (not NULL-poisoned), the same
    skip-NULLs contract both engines implement and this oracle pins.
    The q_not_in_null_trap sibling for aggregation: predicates that
    sometimes don't vote are everywhere in data-quality rollups, and
    an engine (or refactor) that treats unknown as false flips these
    flags silently.

    Scale shape: single combiner-reduced scan — boolean partial
    states are one bit per aggregate per group.
    """
    ev = load_table(spark, sf_dir, "events")
    band = (F.when(F.col("value") > 50, F.lit(True))
            .when(F.col("value") < 10, F.lit(False)))
    return (ev.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.count_if(F.col("value") > 50).alias("n_high"),
                 F.bool_and(F.col("value") > 0).alias("all_positive"),
                 F.bool_or(F.col("value") > 100).alias("any_huge"),
                 F.bool_and(band).alias("band_and"),
                 F.bool_or(band).alias("band_or")))


@register(
    "q_mrout_connector_roundtrip",
    oracle="""
    WITH k AS (
        SELECT lang AS key, CAST(COUNT(*) AS VARCHAR) AS value
        FROM documents GROUP BY lang)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CAST(value AS BIGINT)) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN key >= 'f' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_keys_ge_f
    FROM k
    """,
    tags=("sources", "python-datasource", "connector", "mrout"),
)
def q_mrout_connector_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `mrout` Python DataSource (Spark 4 `pyspark.sql.datasource`
    connector for the reference's ``"<key> <value>"`` text sink,
    `mr/worker.go:190-207`) exercised end-to-end as a REGISTERED
    surface: per-language doc counts land as mr-out-N files via the
    two-phase-commit text sink, are read back through
    ``spark.read.format("mrout")`` (partition-per-file parallel scan
    with source-level key pushdown), and aggregate back to exactly
    the counts the documents table yields — the oracle never sees the
    files, so the sink format + connector scan + filter path are all
    under the value-hash gate, not just pytest.

    Scale shape: the connector enumerates files driver-side but
    streams lines executor-side (one InputPartition per file); the
    `key >= 'f'` count rides the pushFilters path during the scan.
    """
    import shutil
    import tempfile

    work = tempfile.mkdtemp(prefix="mmr_mrout_q_")
    try:
        # pin the result before the temp sink dir is removed
        return _mrout_roundtrip(spark, sf_dir, work).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _mrout_roundtrip(spark: SparkSession, sf_dir: str, work: str) -> DataFrame:
    """Write the per-language counts to ``work`` through the mr-out
    sink and aggregate them back through the ``mrout`` connector."""
    from my_mapreduce_spark.mapreduce import write_text_output
    from my_mapreduce_spark.sources_custom import register_mrout

    docs = load_table(spark, sf_dir, "documents")
    counts = (docs.groupBy(F.col("lang").alias("key"))
              .agg(F.count(F.lit(1)).cast("string").alias("value")))
    write_text_output(counts, work, n_reduce=4)
    register_mrout(spark)
    back = spark.read.format("mrout").load(work)
    ge_f = (spark.read.format("mrout").load(work)
            .where(F.col("key") >= "f"))
    return (back.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(F.col("value").cast("bigint")).alias("n_docs"))
        .crossJoin(F.broadcast(
            ge_f.agg(F.count(F.lit(1)).alias("n_keys_ge_f")))))


@register_audit_plan(
    "q_mrout_connector_roundtrip",
    note="the connector read-back + pushdown-filtered aggregate over a "
         "freshly written mr-out sink (left on disk for the plan's "
         "lifetime) — the shipped fn pins the same plan's RESULT with "
         "localCheckpoint before removing the sink, so this is the "
         "plan it executed.")
def _q_mrout_connector_audit(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    return _mrout_roundtrip(spark, sf_dir,
                            audit_workdir("q_mrout_connector_roundtrip"))


@register(
    "q_collated_grouping",
    oracle="""
    WITH mixed AS (
        SELECT CASE WHEN doc_id % 2 = 0
                    THEN upper(substr(lang, 1, 1)) || substr(lang, 2)
                    ELSE lang END AS lang_mixed
        FROM documents)
    SELECT lower(lang_mixed) AS lang_lc,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT lang_mixed) AS BIGINT) AS n_spellings
    FROM mixed GROUP BY 1
    """,
    tags=("sql", "collation", "spark4", "documents"),
)
def q_collated_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String COLLATIONS (Spark 4): group under ``UTF8_LCASE`` so
    'En' and 'en' fall into ONE group at the COMPARISON level —
    no lower() rewrite of the data — while n_spellings (a binary-
    collation distinct inside each group) proves the group really
    held multiple spellings. Mixed-case input is synthesized
    deterministically (initcap for even doc_ids), and the oracle is
    the classic lower()-rewrite desugaring, pinning that the
    collated GROUP BY is semantically the rewrite (for ASCII) while
    keeping the stored data untouched — the production win is that
    collation-aware grouping/joins push into codegen instead of
    wrapping every reference in lower().
    """
    docs = load_table(spark, sf_dir, "documents")
    mixed = docs.select(
        F.when(F.col("doc_id") % 2 == 0, F.initcap("lang"))
        .otherwise(F.col("lang")).alias("lang_mixed"))
    return (mixed.groupBy(F.expr("lang_mixed COLLATE UTF8_LCASE")
                          .alias("k"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.count_distinct(F.col("lang_mixed")
                                  .cast("string collate UTF8_BINARY"))
                 .alias("n_spellings"))
            .select(F.lower(F.col("k")).cast("string").alias("lang_lc"),
                    "n_docs", "n_spellings"))


_ATK_K = 8   # >= |event types|, so the sketch is provably exact here


@register(
    "q_approx_top_k",
    oracle="""
    SELECT event_type AS item, CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1
    """,
    tags=("aggregates", "approx", "top-k", "sketch", "spark4"),
)
def q_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``approx_top_k`` (Spark 4's frequent-items sketch aggregate):
    one pass, bounded state (maxItemsTracked), merged map-side — the
    engine-native answer to "top event types" without a full groupBy
    when cardinality explodes. Pinned EXACTLY: k=8 exceeds the
    event-type cardinality and the tracked-item budget exceeds the
    distinct count, so the sketch degenerates to exact counts and
    the plain GROUP BY oracle must match value-for-value (the same
    degenerate-exactness trick q_approx_quantiles uses). At real
    cardinality the same call returns the approximate head — the
    query surface is identical.
    """
    ev = load_table(spark, sf_dir, "events")
    topk = ev.agg(F.expr(f"approx_top_k(event_type, {_ATK_K})")
                  .alias("tk"))
    return (topk.select(F.explode("tk").alias("e"))
            .select(F.col("e.item").alias("item"),
                    F.col("e.count").cast("bigint").alias("n")))


_FS_M = 0.9          # assumed per-field agreement prob among matches
_FS_T_HI, _FS_T_LO = 4.0, 0.0   # log-odds decision thresholds


@register(
    "q_er_fellegi_sunter",
    oracle=f"""
    WITH r AS (
        SELECT p_partkey, p_name, p_type, p_size, p_brand,
               CAST(floor(p_retailprice / 100) AS BIGINT) AS band,
               split_part(p_name, ' ', 1) AS adj,
               split_part(p_name, ' ', 2) AS noun
        FROM part),
    pairs AS (
        SELECT a.p_partkey AS ka, b.p_partkey AS kb,
               CAST(a.p_type = b.p_type AS INT)           AS ag_type,
               CAST(a.adj = b.adj AS INT)                 AS ag_adj,
               CAST(a.band = b.band AS INT)               AS ag_cont,
               CAST(a.noun = b.noun AS INT)               AS ag_noun
        FROM r a JOIN r b
          ON a.p_brand = b.p_brand
         AND a.p_size = b.p_size
         AND a.p_partkey < b.p_partkey),
    u AS (
        SELECT avg(ag_type) AS u_type, avg(ag_adj) AS u_adj,
               avg(ag_cont) AS u_cont, avg(ag_noun) AS u_noun
        FROM pairs),
    scored AS (
        SELECT
          (CASE WHEN ag_type = 1 THEN ln({_FS_M} / u_type)
                ELSE ln((1 - {_FS_M}) / (1 - u_type)) END)
        + (CASE WHEN ag_adj = 1 THEN ln({_FS_M} / u_adj)
                ELSE ln((1 - {_FS_M}) / (1 - u_adj)) END)
        + (CASE WHEN ag_cont = 1 THEN ln({_FS_M} / u_cont)
                ELSE ln((1 - {_FS_M}) / (1 - u_cont)) END)
        + (CASE WHEN ag_noun = 1 THEN ln({_FS_M} / u_noun)
                ELSE ln((1 - {_FS_M}) / (1 - u_noun)) END) AS score
        FROM pairs CROSS JOIN u)
    SELECT CASE WHEN score >= {_FS_T_HI} THEN 'match'
                WHEN score >= {_FS_T_LO} THEN 'possible'
                ELSE 'nonmatch' END AS decision,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(AVG(score), 4) AS avg_score,
           ROUND(MIN(score), 4) AS min_score,
           ROUND(MAX(score), 4) AS max_score
    FROM scored GROUP BY 1
    """,
    tags=("entity-resolution", "fellegi-sunter", "record-linkage",
          "blocking", "part"),
)
def q_er_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage over the part
    catalog: candidate pairs are BLOCKED on (brand, size) — never
    unblocked all-pairs, and never a LOW-CARDINALITY key alone:
    blocking on brand only (25 values at EVERY corpus size) makes
    block size proportional to the corpus and the pair relation
    QUADRATIC in it — measured 18.5 s / ~8M pairs at sf0.1 vs
    ~150k pairs composite-keyed (q_sorted_neighborhood_pairs is the
    skew-immune alternative when no second key exists). Blocking
    fields stay disjoint from the agreement vector
    (type / name-adjective / price-band / name-noun),
    and every field contributes its log-likelihood weight
    ln(m/u) on agreement or ln((1-m)/(1-u)) on disagreement — where
    u, the chance-agreement rate among comparison pairs, is
    ESTIMATED FROM THE DATA (one 4-column aggregate over the blocked
    pairs; random blocked pairs approximate non-matches, the
    classical u-estimate) and m is the standard 0.9 prior. Pair
    scores then bucket into match / possible / nonmatch at log-odds
    thresholds — the decision surface a clerical-review queue
    consumes.

    Scale shape: the block key shuffles both sides once; the
    u-estimate is a 1-row broadcast back onto the pair relation (the
    scalar-subquery shape); scoring is pure arithmetic inside
    codegen. Block sizing is the operator's real knob — the
    docstring contract is |block| << corpus, exactly like every
    other candidate generator in this library. The oracle replays
    the estimation and scoring bit-for-bit (ln on identical doubles;
    outputs rounded to 4 dp on both sides).
    """
    part = load_table(spark, sf_dir, "part")
    r = part.select(
        "p_partkey", "p_type", "p_size", "p_brand",
        F.floor(F.col("p_retailprice") / 100).cast("bigint").alias("band"),
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("adj"),
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)).alias("noun"))
    from my_mapreduce_spark.functions.linkage import blocked_pairs

    ag = lambda c: (F.col(f"a.{c}") == F.col(f"b.{c}")).cast("int")
    pairs = (blocked_pairs(r, ["p_brand", "p_size"], "p_partkey")
             .select(ag("p_type").alias("ag_type"),
                     ag("adj").alias("ag_adj"),
                     ag("band").alias("ag_cont"),
                     ag("noun").alias("ag_noun")))
    pairs = pairs.persist()   # feeds the u-estimate AND the scoring
                              # pass (caller releases, caching.py)
    u = pairs.agg(F.avg("ag_type").alias("u_type"),
                  F.avg("ag_adj").alias("u_adj"),
                  F.avg("ag_cont").alias("u_cont"),
                  F.avg("ag_noun").alias("u_noun"))

    def w(flag, ucol):
        return (F.when(F.col(flag) == 1,
                       F.log(F.lit(_FS_M) / F.col(ucol)))
                .otherwise(F.log((1 - _FS_M) / (1 - F.col(ucol)))))

    scored = (pairs.crossJoin(F.broadcast(u))
              .select((w("ag_type", "u_type") + w("ag_adj", "u_adj")
                       + w("ag_cont", "u_cont") + w("ag_noun", "u_noun"))
                      .alias("score")))
    decision = (F.when(F.col("score") >= _FS_T_HI, "match")
                .when(F.col("score") >= _FS_T_LO, "possible")
                .otherwise("nonmatch"))
    return (scored.groupBy(decision.alias("decision"))
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.round(F.avg("score"), 4).alias("avg_score"),
                 F.round(F.min("score"), 4).alias("min_score"),
                 F.round(F.max("score"), 4).alias("max_score")))


_SN_WINDOW = 4   # pairs span sorted ranks 1..3 apart


@register(
    "q_sorted_neighborhood_pairs",
    oracle=f"""
    WITH r AS (
        SELECT p_partkey, split_part(p_name, ' ', 2) AS noun, p_size,
               row_number() OVER (ORDER BY split_part(p_name, ' ', 2),
                                  p_size, p_partkey) AS seq
        FROM part)
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           CAST(b.seq - a.seq AS BIGINT) AS window_dist,
           CAST(a.noun = b.noun AS INT) AS same_noun
    FROM r a JOIN r b
      ON b.seq > a.seq AND b.seq <= a.seq + {_SN_WINDOW - 1}
    """,
    tags=("entity-resolution", "record-linkage", "blocking",
          "sorted-neighborhood", "part"),
)
def q_sorted_neighborhood_pairs(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking (Hernandez & Stolfo): sort the
    corpus ONCE by a similarity-bearing key (name noun, then size),
    then emit candidate pairs only between records at most w-1 ranks
    apart — candidates are O(w * n) by construction, the linear-cost
    alternative to equality blocking when blocks skew (a hot brand
    floods q_er_fellegi_sunter's pair relation; a sliding window
    never exceeds w-1 pairs per record, whatever the key
    distribution).

    Scale shape: the global sort rank comes from
    functions/ranking.distributed_row_number (range-shuffle + local
    row_number + broadcast base offsets — NO data-sized global
    window), then each record explodes into w-1 (rank+k) probes and
    one shuffle equi-join on the rank value pairs neighbors up. The
    oracle replays it as the classic single-window row_number +
    band self-join; the sort key embeds p_partkey so the order is
    total and the pair set deterministic.
    """
    from my_mapreduce_spark.functions.ranking import distributed_row_number

    part = load_table(spark, sf_dir, "part")
    r = part.select(
        "p_partkey",
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)).alias("noun"),
        "p_size")
    ranked = distributed_row_number(
        r, [F.col("noun"), F.col("p_size"), F.col("p_partkey")],
        out="seq")
    a = (ranked
         .select(F.col("p_partkey").alias("key_a"),
                 F.col("noun").alias("noun_a"),
                 F.col("seq").alias("seq_a"),
                 F.explode(F.array(*[F.lit(k)
                                     for k in range(1, _SN_WINDOW)]))
                 .alias("k"))
         .select("key_a", "noun_a", "seq_a",
                 (F.col("seq_a") + F.col("k")).alias("probe")))
    b = ranked.select(
        F.col("p_partkey").alias("key_b"),
        F.col("noun").alias("noun_b"),
        F.col("seq").alias("seq_b"))
    return (a.join(b, F.col("probe") == F.col("seq_b"))
            .select("key_a", "key_b",
                    (F.col("seq_b") - F.col("seq_a")).cast("bigint")
                    .alias("window_dist"),
                    (F.col("noun_a") == F.col("noun_b")).cast("int")
                    .alias("same_noun")))


@register(
    "q_jaro_winkler_blocked",
    oracle="""
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_size = b.p_size
     AND a.p_partkey < b.p_partkey
    """,
    tags=("entity-resolution", "record-linkage", "jaro-winkler",
          "pandas-udf", "part"),
)
def q_jaro_winkler_blocked(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Jaro-Winkler name similarity over blocked candidate pairs —
    the fuzzy comparator that feeds a Fellegi-Sunter agreement
    vector when fields are typo-dirty rather than exactly equal.
    Spark has no jaro built-in and the greedy character matching is
    sequential over string POSITIONS, so the kernel is an
    Arrow-batched scalar pandas_udf that vectorizes across the batch
    (functions/linkage.jaro_batch: padded codepoint matrices, all
    loops over the <= L char positions — no Python loop over rows).

    Pinned bit-for-bit against DuckDB's jaro_winkler_similarity (the
    oracle compares EVERY pair's score): floored transposition count
    t = mismatches // 2 (the rapidfuzz convention — textbook
    half-as-float diverges on odd counts), boost only above
    jaro 0.7, empty -> 0. tests/test_record_linkage.py carries the
    textbook cases (MARTHA/MARHTA etc.) plus a 30k-real-pair
    bit-equality sweep.

    Scale shape: the comparator runs strictly AFTER (brand, size)
    equality blocking — one shuffle on the block key, candidate-
    bounded input, same discipline as every dedup verification
    stage. UDF cost is O(L^2) numpy vector ops per Arrow batch.
    """
    from pyspark.sql.functions import pandas_udf

    from my_mapreduce_spark.functions.linkage import (blocked_pairs,
                                                      jaro_batch)

    @pandas_udf("double")
    def jw(s1: pd.Series, s2: pd.Series) -> pd.Series:
        return pd.Series(jaro_batch(s1, s2))

    part = load_table(spark, sf_dir, "part")
    r = part.select("p_partkey", "p_name", "p_brand", "p_size")
    pairs = blocked_pairs(r, ["p_brand", "p_size"], "p_partkey")
    # the O(L^2) comparator is the query's whole cost and AQE
    # coalesces the tiny blocked-pair bytes to one partition — pin
    # the UDF stage's parallelism (explicit count, CPU-dense
    # candidate relations stay byte-small at any scale); floored at
    # the configured shuffle width so a cluster's wider post-shuffle
    # parallelism is never REDUCED (round-11 advice item 2)
    pairs = pairs.repartition(
        max(spark.sparkContext.defaultParallelism,
            int(spark.conf.get("spark.sql.shuffle.partitions"))),
        F.col("a.p_partkey"))
    return pairs.select(
        F.col("a.p_partkey").alias("key_a"),
        F.col("b.p_partkey").alias("key_b"),
        F.round(jw(F.col("a.p_name"), F.col("b.p_name")), 6)
        .alias("jw"))


@register(
    "q_soundex_phonetic_keys",
    oracle="""
    WITH t AS (
        SELECT DISTINCT unnest(list_filter(
            regexp_split_to_array(text, '[^a-z0-9]+'),
            x -> regexp_matches(x, '^[a-z]+$'))) AS tok
        FROM documents),
    c AS (
        SELECT tok, upper(tok) AS u,
               list_transform(string_split_regex(upper(tok), ''),
                 ch -> CASE
                   WHEN ch IN ('B','F','P','V') THEN '1'
                   WHEN ch IN ('C','G','J','K','Q','S','X','Z') THEN '2'
                   WHEN ch IN ('D','T') THEN '3'
                   WHEN ch = 'L' THEN '4'
                   WHEN ch IN ('M','N') THEN '5'
                   WHEN ch = 'R' THEN '6'
                   WHEN ch IN ('H','W') THEN 'h'
                   ELSE '0' END) AS codes
        FROM t),
    b AS (
        -- H/W are TRANSPARENT to duplicate collapse (runs of any
        -- length): dropping them from positions >= 2 makes plain
        -- adjacent comparison implement the bridge exactly; the
        -- first letter stays (its code 'h' never matches a digit)
        SELECT tok, u,
               list_concat([codes[1]],
                           list_filter(codes[2:], x -> x <> 'h')) AS cs
        FROM c),
    s AS (
        SELECT tok,
               u[1] || rpad(left(coalesce(list_aggregate(list_filter(
                   list_transform(range(2, len(cs) + 1), i ->
                     CASE WHEN cs[i] = '0' THEN ''
                          WHEN cs[i] = cs[i-1] THEN ''
                          ELSE cs[i] END),
                   x -> x <> ''), 'string_agg', ''), ''), 3), 3, '0')
                 AS sdx
        FROM b)
    SELECT sdx, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           MIN(tok) AS first_tok, MAX(tok) AS last_tok
    FROM s GROUP BY sdx
    """,
    tags=("record-linkage", "phonetic", "soundex", "blocking",
          "text", "documents"),
)
def q_soundex_phonetic_keys(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Phonetic blocking keys: American Soundex over the corpus token
    vocabulary (Spark's BUILT-IN ``F.soundex`` — JVM-side, codegen).
    Tokens sharing a key are sound-alike/typo candidates — the third
    candidate generator in the record-linkage family (equality
    blocks, sorted-neighborhood windows, phonetic keys), and the
    cheapest: one distinct pass over the vocabulary, key cost O(len).

    The oracle REIMPLEMENTS the full Soundex algorithm in DuckDB
    list algebra (char -> digit map, H/W-bridged adjacent-duplicate
    collapse, vowel drops, 4-char pad; H/W runs of ANY length are
    transparent — implemented by dropping them from positions >= 2
    so plain adjacent comparison is exactly the bridge) — verified
    token-for-token against Spark's builtin over the fixture
    vocabularies AND a 3.9k random/adversarial fuzz incl. 'phhp',
    'hwhw' (tests/test_record_linkage.py); scope is
    alpha-only tokens because Spark returns non-letter-initial
    strings unchanged (documented builtin convention) while
    classical Soundex strips them. The n_tokens > 1 rows are the
    typo-candidate clusters a linkage pass would feed to the
    Jaro-Winkler comparator (q_jaro_winkler_blocked).

    Scale shape: vocabulary-bounded after the distinct (the
    token-vocab discipline shared with q_vocab_rank_scalable); the
    explode shuffles once to dedup, the phonetic groupBy shuffles
    the vocabulary only.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = (docs.select(F.explode(tokens()).alias("tok"))
            .where(F.col("tok").rlike("^[a-z]+$"))
            .distinct())
    return (toks.groupBy(F.soundex("tok").alias("sdx"))
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.min("tok").alias("first_tok"),
                 F.max("tok").alias("last_tok")))


_FP_JW = 0.9   # fuzzy-name agreement threshold inside the FS vector


@register(
    "q_er_fuzzy_pipeline",
    oracle=f"""
    WITH r AS (
        SELECT p_partkey, p_name, p_type, p_brand, p_size,
               CAST(floor(p_retailprice / 100) AS BIGINT) AS band,
               row_number() OVER (ORDER BY split_part(p_name, ' ', 2),
                                  p_size, p_partkey) AS seq
        FROM part),
    pairs AS (
        SELECT CAST(jaro_winkler_similarity(a.p_name, b.p_name)
                    >= {_FP_JW} AS INT)            AS ag_jw,
               CAST(a.p_type = b.p_type AS INT)    AS ag_type,
               CAST(a.band = b.band AS INT)        AS ag_cont,
               CAST(a.p_brand = b.p_brand AS INT)  AS ag_brand
        FROM r a JOIN r b
          ON b.seq > a.seq AND b.seq <= a.seq + {_SN_WINDOW - 1}),
    u AS (
        SELECT avg(ag_jw) AS u_jw, avg(ag_type) AS u_type,
               avg(ag_cont) AS u_cont, avg(ag_brand) AS u_brand
        FROM pairs),
    scored AS (
        SELECT
          (CASE WHEN ag_jw = 1 THEN ln({_FS_M} / u_jw)
                ELSE ln((1 - {_FS_M}) / (1 - u_jw)) END)
        + (CASE WHEN ag_type = 1 THEN ln({_FS_M} / u_type)
                ELSE ln((1 - {_FS_M}) / (1 - u_type)) END)
        + (CASE WHEN ag_cont = 1 THEN ln({_FS_M} / u_cont)
                ELSE ln((1 - {_FS_M}) / (1 - u_cont)) END)
        + (CASE WHEN ag_brand = 1 THEN ln({_FS_M} / u_brand)
                ELSE ln((1 - {_FS_M}) / (1 - u_brand)) END) AS score
        FROM pairs CROSS JOIN u)
    SELECT CASE WHEN score >= {_FS_T_HI} THEN 'match'
                WHEN score >= {_FS_T_LO} THEN 'possible'
                ELSE 'nonmatch' END AS decision,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(AVG(score), 4) AS avg_score,
           ROUND(MIN(score), 4) AS min_score,
           ROUND(MAX(score), 4) AS max_score
    FROM scored GROUP BY 1
    """,
    tags=("entity-resolution", "record-linkage", "fellegi-sunter",
          "jaro-winkler", "sorted-neighborhood", "pipeline",
          "pandas-udf", "part"),
)
def q_er_fuzzy_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The record-linkage pipeline COMPOSED end-to-end — the query a
    real ER user runs, where rounds <= 7 verified the stages only in
    isolation: sorted-neighborhood candidate generation
    (q_sorted_neighborhood_pairs' O(w*n) window over the
    distributed rank — skew-immune, no fixed-cardinality block key)
    -> Jaro-Winkler fuzzy name comparison (the Arrow-batched
    q_jaro_winkler_blocked kernel, pinned bit-for-bit vs DuckDB)
    -> a Fellegi-Sunter agreement vector mixing the FUZZY field
    (jw >= 0.9) with exact fields (type, price band, brand)
    -> data-estimated u probabilities -> log-odds scoring ->
    match / possible / nonmatch decision buckets
    (q_er_fellegi_sunter's estimator and thresholds).

    The oracle replays the ENTIRE composition in one DuckDB SQL
    statement — window rank, jaro_winkler_similarity, u-estimation,
    ln-weight scoring, 4-dp-rounded bucket stats — so the value hash
    certifies the stages compose bit-for-bit, not merely that each
    works alone.

    Scale shape: candidates are O(w*n) from the sorted neighborhood
    (one range-shuffle sort, broadcast base offsets); the pandas_udf
    comparator runs candidate-bounded strictly after generation; the
    u-estimate is one 4-column aggregate broadcast back as a 1-row
    scalar subquery; scoring is JVM arithmetic in codegen. Every
    stage keeps its standalone query's contract (see those
    docstrings for the measured tiers).
    """
    from my_mapreduce_spark.functions.linkage import jaro_batch
    from my_mapreduce_spark.functions.ranking import distributed_row_number
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def jw(s1: pd.Series, s2: pd.Series) -> pd.Series:
        return pd.Series(jaro_batch(s1, s2))

    part = load_table(spark, sf_dir, "part")
    r = part.select(
        "p_partkey", "p_name", "p_type", "p_brand", "p_size",
        F.floor(F.col("p_retailprice") / 100).cast("bigint").alias("band"),
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)).alias("noun"))
    ranked = distributed_row_number(
        r, [F.col("noun"), F.col("p_size"), F.col("p_partkey")],
        out="seq")
    a = (ranked
         .select(F.col("p_name").alias("name_a"),
                 F.col("p_type").alias("type_a"),
                 F.col("band").alias("band_a"),
                 F.col("p_brand").alias("brand_a"),
                 F.col("seq").alias("seq_a"),
                 F.explode(F.array(*[F.lit(k)
                                     for k in range(1, _SN_WINDOW)]))
                 .alias("k"))
         .select("name_a", "type_a", "band_a", "brand_a",
                 (F.col("seq_a") + F.col("k")).alias("probe")))
    b = ranked.select(F.col("p_name").alias("name_b"),
                      F.col("p_type").alias("type_b"),
                      F.col("band").alias("band_b"),
                      F.col("p_brand").alias("brand_b"),
                      F.col("seq").alias("seq_b"))
    pairs = (a.join(b, F.col("probe") == F.col("seq_b"))
             .select(
                 (jw(F.col("name_a"), F.col("name_b")) >= _FP_JW)
                 .cast("int").alias("ag_jw"),
                 (F.col("type_a") == F.col("type_b"))
                 .cast("int").alias("ag_type"),
                 (F.col("band_a") == F.col("band_b"))
                 .cast("int").alias("ag_cont"),
                 (F.col("brand_a") == F.col("brand_b"))
                 .cast("int").alias("ag_brand"))
             .persist())   # feeds the u-estimate AND the scoring
                           # pass (caller releases, caching.py)
    u = pairs.agg(F.avg("ag_jw").alias("u_jw"),
                  F.avg("ag_type").alias("u_type"),
                  F.avg("ag_cont").alias("u_cont"),
                  F.avg("ag_brand").alias("u_brand"))

    def w(flag, ucol):
        return (F.when(F.col(flag) == 1,
                       F.log(F.lit(_FS_M) / F.col(ucol)))
                .otherwise(F.log((1 - _FS_M) / (1 - F.col(ucol)))))

    scored = (pairs.crossJoin(F.broadcast(u))
              .select((w("ag_jw", "u_jw") + w("ag_type", "u_type")
                       + w("ag_cont", "u_cont") + w("ag_brand", "u_brand"))
                      .alias("score")))
    decision = (F.when(F.col("score") >= _FS_T_HI, "match")
                .when(F.col("score") >= _FS_T_LO, "possible")
                .otherwise("nonmatch"))
    return (scored.groupBy(decision.alias("decision"))
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.round(F.avg("score"), 4).alias("avg_score"),
                 F.round(F.min("score"), 4).alias("min_score"),
                 F.round(F.max("score"), 4).alias("max_score")))


@register(
    "q_er_blocking_metrics",
    oracle=f"""
    WITH r AS (
        SELECT p_partkey,
               split_part(p_name, ' ', 2) AS noun,
               p_type, p_brand, p_size,
               row_number() OVER (ORDER BY split_part(p_name, ' ', 2),
                                  p_size, p_partkey) AS seq
        FROM part),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_records FROM r),
    cand AS (
        SELECT a.p_partkey AS key_a, b.p_partkey AS key_b
        FROM r a JOIN r b
          ON b.seq > a.seq AND b.seq <= a.seq + {_SN_WINDOW - 1}),
    truth AS (
        SELECT LEAST(a.p_partkey, b.p_partkey) AS key_a,
               GREATEST(a.p_partkey, b.p_partkey) AS key_b
        FROM r a JOIN r b
          ON a.noun = b.noun AND a.p_type = b.p_type
         AND a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey),
    found AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_found
        FROM truth t JOIN cand c
          ON (t.key_a = LEAST(c.key_a, c.key_b)
              AND t.key_b = GREATEST(c.key_a, c.key_b))),
    agg AS (
        SELECT n.n_records,
               n.n_records * (n.n_records - 1) / 2 AS total_pairs,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM cand)
                   AS n_candidates,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true,
               found.n_found
        FROM n CROSS JOIN found)
    SELECT n_records, CAST(total_pairs AS BIGINT) AS total_pairs,
           n_candidates, n_true, n_found,
           ROUND(1.0 - CAST(n_candidates AS DOUBLE) / total_pairs, 6)
               AS reduction_ratio,
           ROUND(CAST(n_found AS DOUBLE) / n_true, 6)
               AS pair_completeness,
           ROUND(CAST(n_found AS DOUBLE) / n_candidates, 6)
               AS pair_quality
    FROM agg
    """,
    tags=("entity-resolution", "record-linkage", "blocking",
          "evaluation", "part"),
)
def q_er_blocking_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOCKING-QUALITY EVALUATION for the ER pipeline — the three
    numbers every record-linkage deployment tunes its blocker by
    (Christen 2012): REDUCTION RATIO (how much of the n² pair space
    the sorted-neighborhood window prunes), PAIR COMPLETENESS (what
    fraction of true matches survive into the candidate set — the
    blocker's recall, the number that bounds the whole pipeline's
    recall), and PAIR QUALITY (candidate precision). Ground truth =
    exact agreement on (name noun, type, brand) — the deterministic
    match definition both engines state identically; candidates =
    the SAME w-window generator q_er_fuzzy_pipeline runs, so this
    query IS the missing eval stage of that pipeline.

    Exactness: every count is an exact bigint; the three ratios are
    single divisions rounded at 6 — a FULL equality oracle.

    Scale shape: one range-shuffle rank (distributed_row_number, no
    global window), the O(w*n) candidate explode-join, the
    equality-blocked truth self-join (group-bounded by the
    (noun, type, brand) key), and one candidate-keyed semi-ish join
    for the intersection — nothing n². At 100 TB the truth join is
    the only data-shaped term and it is the SAME equality-block
    whose skew the sorted-neighborhood blocker exists to avoid:
    the eval is allowed what the pipeline is not, because it runs
    once per tuning round, not per ingest.
    """
    from my_mapreduce_spark.functions.ranking import distributed_row_number

    part = load_table(spark, sf_dir, "part")
    r = part.select(
        "p_partkey",
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)).alias("noun"),
        "p_type", "p_brand", "p_size")
    ranked = distributed_row_number(
        r, [F.col("noun"), F.col("p_size"), F.col("p_partkey")],
        out="seq")
    a = (ranked
         .select(F.col("p_partkey").alias("key_a"),
                 F.col("seq").alias("seq_a"),
                 F.explode(F.array(*[F.lit(k)
                                     for k in range(1, _SN_WINDOW)]))
                 .alias("k"))
         .select("key_a", (F.col("seq_a") + F.col("k")).alias("probe")))
    b = ranked.select(F.col("p_partkey").alias("key_b"),
                      F.col("seq").alias("seq_b"))
    cand = (a.join(b, F.col("probe") == F.col("seq_b"))
            .select(F.least("key_a", "key_b").alias("key_a"),
                    F.greatest("key_a", "key_b").alias("key_b")))
    t_a = ranked.select(F.col("p_partkey").alias("ka"), "noun",
                        "p_type", "p_brand")
    t_b = ranked.select(F.col("p_partkey").alias("kb"),
                        F.col("noun").alias("noun_b"),
                        F.col("p_type").alias("type_b"),
                        F.col("p_brand").alias("brand_b"))
    truth = (t_a.join(t_b, (F.col("noun") == F.col("noun_b"))
                      & (F.col("p_type") == F.col("type_b"))
                      & (F.col("p_brand") == F.col("brand_b"))
                      & (F.col("ka") < F.col("kb")))
             .select(F.col("ka").alias("key_a"),
                     F.col("kb").alias("key_b")))
    n_rec = ranked.agg(F.count(F.lit(1)).alias("n_records"))
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    n_true = truth.agg(F.count(F.lit(1)).alias("n_true"))
    n_found = (truth.join(cand, ["key_a", "key_b"])
               .agg(F.count(F.lit(1)).alias("n_found")))
    agg = (n_rec.crossJoin(F.broadcast(n_cand))
           .crossJoin(F.broadcast(n_true))
           .crossJoin(F.broadcast(n_found))
           .withColumn("total_pairs",
                       (F.col("n_records") * (F.col("n_records") - 1)
                        / 2).cast("bigint")))
    # try_divide: a zero denominator (fewer than two records) gives
    # NULL, as the oracle's division does
    found = F.col("n_found").cast("double")
    return agg.select(
        "n_records", "total_pairs", "n_candidates", "n_true", "n_found",
        F.round(1.0 - F.try_divide(F.col("n_candidates").cast("double"),
                                   F.col("total_pairs")), 6)
        .alias("reduction_ratio"),
        F.round(F.try_divide(found, F.col("n_true")), 6)
        .alias("pair_completeness"),
        F.round(F.try_divide(found, F.col("n_candidates")), 6)
        .alias("pair_quality"))
