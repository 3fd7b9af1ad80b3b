"""Weighted sampling, robust rolling/anomaly statistics, and the
shared-text SQL surface (SURVEY.md §2C/§2D north-star depth).

- ``q_weighted_sample``: Efraimidis–Spirakis weighted sampling
  without replacement (the principled way to draw a fixed-size
  sample where longer/higher-weight docs are proportionally more
  likely — used for mixture construction and eval-set draws);
  deterministic via md5-derived uniforms, so fully oracle-checked.
- ``q_rolling_median``: exact sliding-window median per user over
  ``events`` — the robust denoiser for metric streams.
- ``q_mad_outliers``: median-absolute-deviation robust z-score
  outlier counts per event type (the outlier rule that, unlike
  mean/stddev z-scores, is not dragged by the outliers themselves).
- ``q_sql_cte_pipeline``: ONE ANSI SQL text executed verbatim by
  BOTH engines — ``spark.sql(SQL)`` is the query, the identical
  string is the DuckDB oracle. Demonstrates the engine's SQL entry
  surface (the reference has no SQL surface at all; SURVEY §2C).

Scale shape (100 TB): the weighted sample is one scan + a
TakeOrderedAndProject top-k (per-partition partial top-k, O(k)
driver rows); the rolling median is a user-partitioned bounded row
frame (state = 7 rows per partition slot, no global window); MAD is
two broadcast-join passes of per-type scalar percentiles; the SQL
pipeline is a star join (dims broadcast) + one hash agg + a
per-region rank window over nation-cardinality rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from my_mapreduce_spark.functions.text import tokens
from my_mapreduce_spark.io import load_table
from my_mapreduce_spark.registry import register

_SAMPLE_K = 25
_FRAME = 6            # rolling window: current row + 6 preceding
_MAD_Z = 3.5          # robust z-score cutoff (0.6745 * dev / MAD)

# u in (0,1) from the first 13 md5 hex digits (52 bits — exact in a
# double); Efraimidis–Spirakis key = -ln(u)/w, smallest k win.
_U_SQL = ("(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) "
          "AS UBIGINT) + 0.5) / 4503599627370496.0")


@register(
    "q_weighted_sample",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, n_chars,
               -ln({_U_SQL}) / n_chars AS k
        FROM documents),
    ranked AS (
        SELECT doc_id, n_chars, k,
               ROW_NUMBER() OVER (ORDER BY k, doc_id) AS rnk
        FROM keyed)
    SELECT doc_id, n_chars, ROUND(k, 6) AS wkey, rnk
    FROM ranked WHERE rnk <= {_SAMPLE_K}
    """,
    tags=("sampling", "pipeline"),
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample without replacement, k=25, weight=n_chars,
    via the Efraimidis–Spirakis exponential race: each doc draws
    u~U(0,1) (deterministically, from md5(doc_id)) and the k docs
    with the smallest -ln(u)/weight win — exactly equivalent to
    sequential weighted draws without replacement, but expressible
    as a stateless per-row key + top-k, which is why it is THE
    distributed weighted-sampling algorithm.

    One scan, no shuffle except the sort+limit top-k
    (TakeOrderedAndProject: per-partition partial top-k, k rows to
    the driver side of the plan) — at 100 TB the cost is the scan.
    """
    docs = load_table(spark, sf_dir, "documents")
    u = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13),
                16, 10).cast("double") + 0.5) / float(2 ** 52)
    keyed = docs.select(
        "doc_id", "n_chars", (-F.log(u) / F.col("n_chars")).alias("k"))
    w = Window.orderBy("k", "doc_id")
    return (keyed.orderBy("k", "doc_id").limit(_SAMPLE_K)
            .withColumn("rnk", F.row_number().over(w))
            .select("doc_id", "n_chars", F.round("k", 6).alias("wkey"),
                    "rnk"))


@register(
    "q_rolling_median",
    oracle=f"""
    SELECT event_id, user_id, value,
           ROUND(quantile_cont(value, 0.5) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN {_FRAME} PRECEDING AND CURRENT ROW), 6)
               AS rolling_med
    FROM events
    """,
    tags=("windows", "robust-stats"),
)
def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling median of ``value`` over each user's last
    7 events (row frame, ordered by ts) — the robust smoother for
    noisy per-entity metric streams; both engines interpolate
    (Spark ``percentile`` == DuckDB ``quantile_cont``).

    The window is user-partitioned with a BOUNDED row frame: state
    per open frame is 7+1 rows, partitions distribute by user —
    no single-partition window, no growth with history length
    beyond the per-user sort. At 100 TB this is one shuffle on
    user_id plus a linear pass.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-_FRAME, 0))
    return ev.select(
        "event_id", "user_id", "value",
        F.round(F.expr("percentile(value, 0.5)").over(w), 6)
        .alias("rolling_med"))


@register(
    "q_mad_outliers",
    oracle=f"""
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM events GROUP BY event_type),
    mad AS (
        SELECT e.event_type, med.med,
               quantile_cont(abs(e.value - med.med), 0.5) AS mad
        FROM events e JOIN med USING (event_type)
        GROUP BY e.event_type, med.med),
    flagged AS (
        SELECT e.event_type, mad.med, mad.mad,
               CASE WHEN mad.mad > 0
                    AND abs(0.6745 * (e.value - mad.med) / mad.mad)
                        > {_MAD_Z}
                    THEN 1 ELSE 0 END AS is_out
        FROM events e JOIN mad USING (event_type))
    SELECT event_type, COUNT(*) AS n,
           ROUND(med, 6) AS med, ROUND(mad, 6) AS mad,
           CAST(SUM(is_out) AS BIGINT) AS n_outliers
    FROM flagged GROUP BY event_type, med, mad
    """,
    tags=("robust-stats", "quality"),
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier counts per event type via the MAD rule:
    modified z = 0.6745*(x - median)/MAD, flag |z| > 3.5 — the
    standard robust alternative to mean/stddev z-scores (which the
    outliers themselves inflate; median/MAD have a 50% breakdown
    point).

    Two passes over events, each ending in a per-type SCALAR
    (|event_types| rows, broadcast back) — exact medians computed
    where the data lives, never collected; the flag pass is a
    broadcast hash join + map-side-combinable count. At 100 TB:
    2 scans + 2 type-keyed aggs, no large shuffle.
    """
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med"))
    mad = (ev.join(F.broadcast(med), "event_type")
           .groupBy("event_type", "med")
           .agg(F.expr("percentile(abs(value - med), 0.5)").alias("mad")))
    z = F.abs(0.6745 * (F.col("value") - F.col("med")) / F.col("mad"))
    flagged = (ev.join(F.broadcast(mad), "event_type")
               .select("event_type", "med", "mad",
                       F.when((F.col("mad") > 0) & (z > _MAD_Z), 1)
                       .otherwise(0).alias("is_out")))
    return (flagged.groupBy("event_type", "med", "mad")
            .agg(F.count("*").alias("n"),
                 F.sum("is_out").cast("long").alias("n_outliers"))
            .select("event_type", "n", F.round("med", 6).alias("med"),
                    F.round("mad", 6).alias("mad"), "n_outliers"))


# ONE SQL text, two engines: spark.sql(_PIPELINE_SQL) is the query,
# the same string is the DuckDB oracle. Restricted to the ANSI
# intersection both engines parse identically.
_PIPELINE_SQL = """
WITH cust_rev AS (
    SELECT r.r_name AS region, n.n_name AS nation,
           SUM(l.l_extendedprice * (1 - l.l_discount)) AS rev
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderdate >= DATE '1996-01-01'
    GROUP BY r.r_name, n.n_name),
ranked AS (
    SELECT region, nation, rev,
           ROW_NUMBER() OVER (PARTITION BY region
                              ORDER BY rev DESC, nation) AS rnk
    FROM cust_rev)
SELECT region, nation, ROUND(rev, 4) AS revenue, rnk
FROM ranked WHERE rnk <= 3
"""


@register(
    "q_sql_cte_pipeline",
    oracle=_PIPELINE_SQL,
    tags=("sql-surface", "relational"),
)
def q_sql_cte_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 nations by revenue within each region since 1996,
    written as ONE ANSI SQL text (CTEs + 4-way star join + window
    rank) that `spark.sql` executes verbatim — and the oracle runs
    the IDENTICAL string in DuckDB. This pins the SQL entry surface
    itself: same parse, same semantics, same answer. The reference
    has no SQL surface (SURVEY §2C); this is the capability a user
    switching from any SQL engine exercises first.

    Catalyst plans it like the hand-built DataFrame twin would:
    dims broadcast onto the lineitem scan (orderdate filter pushed
    down), one hash agg, and the rank window runs per-region over
    nation-cardinality rows — nothing here is SQL-surface overhead.
    """
    for t in ("lineitem", "orders", "customer", "nation", "region"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_PIPELINE_SQL)


_AQP_RATE = 0.05      # deterministic 5% sample
# 13 md5 hex digits as a 52-bit uniform, same scheme as _U_SQL
_AQP_U = ("(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) "
          "AS UBIGINT) + 0.5) / 4503599627370496.0")


@register(
    "q_aqp_estimate",
    oracle=f"""
    WITH s AS (
        SELECT doc_id, n_chars FROM documents WHERE {_AQP_U} < {_AQP_RATE}),
    est AS (
        SELECT COUNT(*) AS n_sample,
               CAST(ROUND(COUNT(*) / {_AQP_RATE}, 0) AS BIGINT)
                   AS est_total,
               AVG(n_chars) AS est_avg_chars,
               SUM(n_chars) / {_AQP_RATE} AS est_sum_chars
        FROM s),
    exact AS (
        SELECT COUNT(*) AS exact_total,
               AVG(n_chars) AS exact_avg_chars,
               CAST(SUM(n_chars) AS DOUBLE) AS exact_sum_chars
        FROM documents)
    SELECT est.n_sample, est.est_total, exact.exact_total,
           ROUND(est.est_avg_chars, 6) AS est_avg_chars,
           ROUND(exact.exact_avg_chars, 6) AS exact_avg_chars,
           ROUND(abs(est.est_sum_chars - exact.exact_sum_chars)
                 / exact.exact_sum_chars, 6) AS rel_err_sum
    FROM est CROSS JOIN exact
    """,
    tags=("sampling", "aqp"),
)
def q_aqp_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate query processing by deterministic sampling:
    estimate corpus count / mean / total from a 5% md5-hash
    sample (Horvitz–Thompson inverse-probability scaling) and report
    the realized relative error against the exact answer. The
    trade every interactive 100 TB dashboard makes — scan 1/20th of
    the data for a ~1/sqrt(n) error — made reproducible by hashing
    doc_id instead of RNG sampling.

    Both branches are single map-side-combined scalar aggregates;
    the sample predicate is a pure per-row hash (pushable,
    partition-parallel, no shuffle). The exact branch exists only
    to score the estimate; a production AQP run executes the sample
    branch alone.
    """
    docs = load_table(spark, sf_dir, "documents")
    u = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13),
                16, 10).cast("double") + 0.5) / float(2 ** 52)
    s = docs.where(u < _AQP_RATE)
    est = s.agg(
        F.count("*").alias("n_sample"),
        F.round(F.count("*") / _AQP_RATE, 0).cast("long").alias("est_total"),
        F.avg("n_chars").alias("est_avg_chars"),
        (F.sum("n_chars") / _AQP_RATE).alias("est_sum_chars"))
    exact = docs.agg(
        F.count("*").alias("exact_total"),
        F.avg("n_chars").alias("exact_avg_chars"),
        F.sum("n_chars").cast("double").alias("exact_sum_chars"))
    return (est.crossJoin(F.broadcast(exact))
            .select("n_sample", "est_total", "exact_total",
                    F.round("est_avg_chars", 6).alias("est_avg_chars"),
                    F.round("exact_avg_chars", 6).alias("exact_avg_chars"),
                    F.round(F.abs(F.col("est_sum_chars")
                                  - F.col("exact_sum_chars"))
                            / F.col("exact_sum_chars"), 6)
                    .alias("rel_err_sum")))


_DIFF_BUCKETS = 256
_DRIFT_MOD = 997      # simulated target table drops event_id % 997 = 0
# 52-bit row fingerprint over the stable identity columns
_ROW_HASH = ("CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR) || '|' "
             "|| CAST(user_id AS VARCHAR) || '|' || event_type), 1, 13)) "
             "AS UBIGINT)")


@register(
    "q_table_diff_checksums",
    oracle=f"""
    WITH src AS (
        SELECT event_id % {_DIFF_BUCKETS} AS bucket,
               bit_xor({_ROW_HASH}) AS chk, COUNT(*) AS n
        FROM events GROUP BY 1),
    dst AS (
        SELECT event_id % {_DIFF_BUCKETS} AS bucket,
               bit_xor({_ROW_HASH}) AS chk, COUNT(*) AS n
        FROM events WHERE event_id % {_DRIFT_MOD} <> 0 GROUP BY 1)
    SELECT src.bucket, src.n AS n_src,
           COALESCE(dst.n, 0) AS n_dst,
           src.n - COALESCE(dst.n, 0) AS n_missing
    FROM src LEFT JOIN dst ON dst.bucket = src.bucket
    WHERE dst.bucket IS NULL OR dst.chk <> src.chk OR dst.n <> src.n
    """,
    tags=("reconciliation", "ops"),
)
def q_table_diff_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-checksum table reconciliation: hash every row of two
    table versions into 256 buckets, XOR a 52-bit row fingerprint
    per bucket, and report only the buckets whose (checksum, count)
    disagree — locating divergence between a source table and a
    drifted copy (here: a simulated replica missing event_id %
    997 = 0) WITHOUT a row-level compare. This is how replicas,
    CDC sinks, and migrated tables are verified at 100 TB: two
    scans, two 256-row summaries, one 256-row join — then a
    row-level repair query runs ONLY inside the flagged buckets.

    XOR is the right checksum aggregate: commutative/associative
    (map-side combinable, order-independent) and overflow-free,
    unlike SUM of 52-bit fingerprints.
    """
    ev = load_table(spark, sf_dir, "events")
    row_hash = F.conv(
        F.substring(F.md5(F.concat_ws(
            "|", F.col("event_id").cast("string"),
            F.col("user_id").cast("string"), F.col("event_type"))), 1, 13),
        16, 10).cast("long")

    def summarize(df: DataFrame) -> DataFrame:
        return (df.groupBy((F.col("event_id") % _DIFF_BUCKETS)
                           .alias("bucket"))
                .agg(F.bit_xor(row_hash).alias("chk"),
                     F.count("*").alias("n")))

    src = summarize(ev)
    dst = summarize(ev.where(F.col("event_id") % _DRIFT_MOD != 0))
    return (src.alias("s")
            .join(dst.alias("d"), F.col("d.bucket") == F.col("s.bucket"),
                  "left")
            .where(F.col("d.bucket").isNull()
                   | (F.col("d.chk") != F.col("s.chk"))
                   | (F.col("d.n") != F.col("s.n")))
            .select(F.col("s.bucket").alias("bucket"),
                    F.col("s.n").alias("n_src"),
                    F.coalesce(F.col("d.n"), F.lit(0)).alias("n_dst"),
                    (F.col("s.n") - F.coalesce(F.col("d.n"), F.lit(0)))
                    .alias("n_missing")))


_WINSOR_LO = 0.05
_WINSOR_HI = 0.95


@register(
    "q_winsorize_stats",
    oracle=f"""
    WITH b AS (
        SELECT event_type,
               quantile_cont(value, {_WINSOR_LO}) AS lo,
               quantile_cont(value, {_WINSOR_HI}) AS hi
        FROM events GROUP BY event_type),
    c AS (
        SELECT e.event_type, b.lo, b.hi, e.value,
               least(greatest(e.value, b.lo), b.hi) AS clipped,
               CASE WHEN e.value < b.lo OR e.value > b.hi
                    THEN 1 ELSE 0 END AS is_clipped
        FROM events e JOIN b USING (event_type))
    SELECT event_type,
           ROUND(lo, 6) AS lo, ROUND(hi, 6) AS hi,
           ROUND(AVG(value), 6) AS mean_raw,
           ROUND(AVG(clipped), 6) AS mean_winsorized,
           CAST(SUM(is_clipped) AS BIGINT) AS n_clipped
    FROM c GROUP BY event_type, lo, hi
    """,
    tags=("robust-stats", "preprocessing"),
)
def q_winsorize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization per event type: clip ``value`` to its exact
    [p5, p95] percentile band and report raw vs winsorized
    means plus the clip count — the standard tail-taming
    preprocessing step before training on heavy-tailed metrics
    (clipping, unlike dropping, keeps the row count).

    One percentile pass produces a per-type 2-scalar boundary table
    (broadcast back — the same exact-boundary-broadcast shape as
    q_rfm_segments), then one clip-and-aggregate scan. No shuffle
    larger than |event_types| rows at any scale.
    """
    ev = load_table(spark, sf_dir, "events")
    b = ev.groupBy("event_type").agg(
        F.expr(f"percentile(value, {_WINSOR_LO})").alias("lo"),
        F.expr(f"percentile(value, {_WINSOR_HI})").alias("hi"))
    clipped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    is_clipped = ((F.col("value") < F.col("lo"))
                  | (F.col("value") > F.col("hi"))).cast("int")
    return (ev.join(F.broadcast(b), "event_type")
            .select("event_type", "lo", "hi", "value",
                    clipped.alias("clipped"), is_clipped.alias("is_clipped"))
            .groupBy("event_type", "lo", "hi")
            .agg(F.round(F.avg("value"), 6).alias("mean_raw"),
                 F.round(F.avg("clipped"), 6).alias("mean_winsorized"),
                 F.sum("is_clipped").cast("long").alias("n_clipped"))
            .select("event_type", F.round("lo", 6).alias("lo"),
                    F.round("hi", 6).alias("hi"), "mean_raw",
                    "mean_winsorized", "n_clipped"))


_N_BINS = 10
_DECILES = [i / _N_BINS for i in range(1, _N_BINS)]


@register(
    "q_equidepth_histogram",
    oracle=f"""
    WITH b AS (
        SELECT quantile_cont(l_quantity, {_DECILES}) AS qs
        FROM lineitem)
    SELECT CAST(1 + len(list_filter(b.qs, q -> l.l_quantity > q)) AS INT)
               AS bin,
           COUNT(*) AS n_rows,
           MIN(l.l_quantity) AS lo,
           MAX(l.l_quantity) AS hi
    FROM lineitem l, b
    GROUP BY 1
    """,
    tags=("stats", "histogram", "percentile"),
)
def q_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (decile) histogram of ``l_quantity`` — the
    optimizer-statistics shape (equal-count bins expose skew that
    equal-width bins hide; q_histogram is the equal-width twin).

    Two passes: one EXACT percentile aggregate for the 9 boundaries
    (a single scalar row, broadcast), one scan assigning each row
    ``bin = 1 + #boundaries < v`` via an array filter on the
    broadcast boundary array. Cross-engine exactness argument:
    l_quantity is integer-valued, so every interpolated boundary is
    either exactly an integer (both engines agree bit-for-bit) or
    strictly inside an open integer interval — in which case the
    ``v > boundary`` comparison is invariant to last-ulp
    interpolation differences. No per-row shuffle; the only wide op
    is the tiny bin agg.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_quantity")
    bounds = li.agg(
        F.percentile("l_quantity", F.array(*[F.lit(p) for p in _DECILES]))
        .alias("qs"))
    binned = (
        li.crossJoin(F.broadcast(bounds))
        .select((1 + F.size(F.filter(
            "qs", lambda q: F.col("l_quantity") > q))).cast("int")
            .alias("bin"), "l_quantity"))
    return (binned.groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.min("l_quantity").alias("lo"),
                 F.max("l_quantity").alias("hi")))


# One SQL text, run VERBATIM by spark.sql AND DuckDB: WITH RECURSIVE
# breadth-bounded reachability over the bidirected trade graph.
# Fan-out control: the recursion stops at 2 hops, so the working
# relation is degree-bounded, not closure-sized.
_RECURSIVE_SQL = """
WITH RECURSIVE el AS (
    SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
edges AS (SELECT src, dst FROM el
          UNION ALL SELECT dst AS src, src AS dst FROM el),
reach(node, hops) AS (
    SELECT 'c1' AS node, 0 AS hops
    UNION ALL
    SELECT e.dst AS node, r.hops + 1 AS hops
    FROM edges e JOIN reach r ON e.src = r.node
    WHERE r.hops < 2),
closest AS (SELECT node, MIN(hops) AS min_hops FROM reach GROUP BY node)
SELECT min_hops, COUNT(*) AS n_nodes
FROM closest GROUP BY min_hops
"""


@register(
    "q_recursive_cte_reachability",
    oracle=_RECURSIVE_SQL,
    tags=("sql", "recursive", "graph"),
)
def q_recursive_cte_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 recursive CTE (WITH RECURSIVE), exercised through the
    same shared-SQL contract as q_sql_cte_pipeline: the ONE query
    text above runs verbatim on both engines — node counts by
    minimum hop distance from customer c1 in the bidirected trade
    graph.

    This is the declarative twin of the driver-loop iterations
    (q_dedup_clusters, q_pagerank): the engine owns the fixed-point
    loop. The 2-hop bound keeps each recursion step an equi-join of
    the frontier against the edge list (degree-bounded working set);
    unbounded transitive closure on a dense graph is exactly what
    the iterative operators with convergence accounting are for.
    """
    from my_mapreduce_spark.io import register_views

    register_views(spark, sf_dir, ("lineitem", "orders"))
    return spark.sql(_RECURSIVE_SQL)


# Key-consistent sampling predicate: first hex digit of md5(key) in
# 0-3 => a deterministic, engine-portable 25% universe sample.
_HS_DIGITS = "('0', '1', '2', '3')"


def _hs_sql(key: str) -> str:
    return (f"substr(md5(CAST({key} AS VARCHAR)), 1, 1) "
            f"IN {_HS_DIGITS}")


@register(
    "q_hash_sample_join",
    oracle=f"""
    WITH f AS (
        SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_full
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY 1),
    ks AS (
        SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_key
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        WHERE {_hs_sql('c.c_custkey')}
        GROUP BY 1),
    rs AS (
        SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_row
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        WHERE {_hs_sql('c.c_custkey')} AND {_hs_sql('o.o_orderkey')}
        GROUP BY 1)
    SELECT n.n_name,
           f.n_full,
           COALESCE(ks.n_key, 0) AS n_key_sample,
           COALESCE(ks.n_key, 0) * 4 AS est_key,
           ROUND((COALESCE(ks.n_key, 0) * 4 - f.n_full)
                 * 1.0 / f.n_full, 6) AS err_key,
           COALESCE(rs.n_row, 0) AS n_row_sample,
           COALESCE(rs.n_row, 0) * 4 AS est_row,
           ROUND((COALESCE(rs.n_row, 0) * 4 - f.n_full)
                 * 1.0 / f.n_full, 6) AS err_row
    FROM f
    JOIN nation n ON n.n_nationkey = f.c_nationkey
    LEFT JOIN ks ON ks.c_nationkey = f.c_nationkey
    LEFT JOIN rs ON rs.c_nationkey = f.c_nationkey
    """,
    tags=("sampling", "join", "approximate", "universe-sample"),
)
def q_hash_sample_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-consistent (universe) sampling across TABLES, measured:
    sample customers AND orders with the SAME deterministic 25%
    predicate on the join key (first md5 hex digit of custkey in
    0-3), join the samples, and scale counts by 4 — versus the
    broken "sample each table independently on its own key"
    estimator, which keeps only ~25% x 25% of join pairs and
    under-estimates by ~75%. Per nation: full join count, both
    sample counts, both scaled estimates, both relative errors —
    the key-sample error hovers near zero, the row-sample error
    near -0.75, which is the entire lesson of universe sampling
    (sample the KEY's hash universe, and the join of samples IS
    the sample of the join, because a sampled customer brings all
    its orders deterministically).

    At 100 TB this is how you debug a petabyte join on a laptop
    budget: both sides prune to the same key universe AT THE SCAN
    (the predicate pushes down; no coordination, no join needed to
    sample), and every engine/run/cluster-size reproduces the same
    sample — the reproducibility q_sample_stratified establishes
    for rows, lifted to multi-table consistency.

    All counts are exact integers; the relative errors are single
    divisions of exact integers — no float seam. Engine shape:
    three filtered variants of the same broadcast-dim join, each a
    map-side-combined count to O(nations) rows.

    Reference parity: none; north-star §2D sampling depth.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name")

    def smp(col):
        return F.substring(F.md5(col.cast("string")), 1, 1).isin(
            "0", "1", "2", "3")

    j = cust.join(orders, cust.c_custkey == orders.o_custkey)
    f = j.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n_full"))
    ks = (j.where(smp(F.col("c_custkey")))
          .groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n_key")))
    rs = (j.where(smp(F.col("c_custkey")) & smp(F.col("o_orderkey")))
          .groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n_row")))
    out = (f.join(ks, "c_nationkey", "left")
           .join(rs, "c_nationkey", "left")
           .join(F.broadcast(nation),
                 F.col("c_nationkey") == F.col("n_nationkey")))
    n_key = F.coalesce("n_key", F.lit(0))
    n_row = F.coalesce("n_row", F.lit(0))
    return out.select(
        "n_name", "n_full",
        n_key.alias("n_key_sample"),
        (n_key * 4).alias("est_key"),
        F.round((n_key * 4 - F.col("n_full")).cast("double")
                / F.col("n_full"), 6).alias("err_key"),
        n_row.alias("n_row_sample"),
        (n_row * 4).alias("est_row"),
        F.round((n_row * 4 - F.col("n_full")).cast("double")
                / F.col("n_full"), 6).alias("err_row"))


_EM_BUCKETS = 1024


@register(
    "q_exact_median_twopass",
    oracle="""
    WITH r AS (
        SELECT l_returnflag,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
               ROW_NUMBER() OVER (
                   PARTITION BY l_returnflag
                   ORDER BY ROUND(l_extendedprice * 100)) AS rk,
               CAST(COUNT(*) OVER (PARTITION BY l_returnflag)
                   AS BIGINT) AS n
        FROM lineitem)
    SELECT l_returnflag, n,
           ROUND(cents / 100.0, 2) AS median
    FROM r WHERE rk = (n - 1) // 2 + 1
    """,
    tags=("stats", "quantile", "exact", "two-pass"),
)
def q_exact_median_twopass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group median (lower median, k = (n-1) DIV 2 + 1)
    of l_extendedprice WITHOUT a global sort — the distributed
    histogram-narrowing plan: pass 0 collects per-group (count,
    min, max) (O(groups) driver rows); pass 1 buckets every row
    into 1024 equal-width integer-cent bins per group and collects
    the O(groups x 1024) histogram, from which the driver finds the
    bin holding the k-th value and the residual rank k' inside it;
    pass 2 re-scans ONLY rows in each group's target bin
    (a pushed-down range filter) and picks the k'-th smallest with
    a group-partitioned window over ~n/1024 rows per group.
    Prices are exact integer cents (the q_groupwise_ols trick), so
    bucket arithmetic and ranks have no float seam, and the k-th
    VALUE is deterministic under ties regardless of row order.

    The oracle computes the same k-th value the monolithic way (one
    rank window). That contrast is the point: percentile_approx
    trades exactness for one pass; a naive exact median sorts the
    world into one task (what the audit's global-window gate
    exists to catch); this plan is exact AND distributed — two
    scans, one bounded histogram, a window over a 1/1024 sliver.
    All-equal groups (min = max) short-circuit at pass 0. At 100 TB
    the driver holds groups x 1024 longs and the window's partition
    is n/1024 expected (pathological single-cent pileups would
    recurse another level; documented, not needed at any tested
    SF). Reference parity: none; north-star scale-first analytics.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
        .alias("cents"))
    stats = (li.groupBy("l_returnflag")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.min("cents").alias("lo"),
                  F.max("cents").alias("hi"))
             .collect())  # O(groups) rows — bounded driver traffic
    if not stats:  # empty table: typed empty result, not a crash
        return spark.createDataFrame(
            [], "l_returnflag string, n bigint, median double")
    direct = [(s.l_returnflag, s.n, s.lo / 100.0)
              for s in stats if s.lo == s.hi]
    search = [s for s in stats if s.lo != s.hi]
    out_direct = spark.createDataFrame(
        direct, "l_returnflag string, n bigint, median double") \
        if direct else None
    if not search:
        return out_direct
    meta = spark.createDataFrame(
        [(s.l_returnflag, s.lo, s.hi - s.lo + 1) for s in search],
        "l_returnflag string, lo bigint, width bigint")
    bucketed = (li.join(F.broadcast(meta), "l_returnflag")
                .withColumn("bucket",
                            ((F.col("cents") - F.col("lo"))
                             * _EM_BUCKETS).cast("bigint")
                            / F.col("width"))
                .withColumn("bucket", F.col("bucket").cast("bigint")))
    hist = (bucketed.groupBy("l_returnflag", "bucket")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect())  # O(groups x 1024) rows — bounded by B
    by_flag: dict = {}
    for h in hist:
        by_flag.setdefault(h.l_returnflag, []).append((h.bucket, h.c))
    targets = []
    for s in search:
        k = (s.n - 1) // 2 + 1
        cum = 0
        for b, c in sorted(by_flag[s.l_returnflag]):
            if cum + c >= k:
                targets.append((s.l_returnflag, s.n, b, k - cum))
                break
            cum += c
    tdf = spark.createDataFrame(
        targets, "l_returnflag string, n bigint, tb bigint, kp bigint")
    w = Window.partitionBy("l_returnflag").orderBy("cents")
    found = (bucketed.join(F.broadcast(tdf), "l_returnflag")
             .where(F.col("bucket") == F.col("tb"))
             .withColumn("r", F.row_number().over(w))
             .where(F.col("r") == F.col("kp"))
             .select("l_returnflag", "n",
                     F.round(F.col("cents") / 100.0, 2).alias("median")))
    return found.unionAll(out_direct) if out_direct is not None else found


# log10(1 + 1/d) to 6dp, pinned as literals on BOTH engines so the
# expected shares carry no transcendental cross-engine seam.
_BENFORD = {1: 0.301030, 2: 0.176091, 3: 0.124939, 4: 0.096910,
            5: 0.079181, 6: 0.066947, 7: 0.057992, 8: 0.051153,
            9: 0.045757}


@register(
    "q_benford_screen",
    oracle=f"""
    WITH e(digit, expected) AS (VALUES
        {", ".join(f"({d}, {p})" for d, p in _BENFORD.items())}),
    x AS (
        SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS
                   BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
        FROM orders),
    c AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n
          FROM x GROUP BY digit),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
    SELECT c.digit, c.n,
           ROUND(CAST(c.n AS DOUBLE) / t.total, 6) AS share,
           e.expected,
           ROUND((c.n - t.total * e.expected)
                 * (c.n - t.total * e.expected)
                 / (t.total * e.expected), 6) AS chi2_term
    FROM c JOIN e ON e.digit = c.digit CROSS JOIN t
    """,
    tags=("quality", "benford", "stats", "fraud"),
)
def q_benford_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit screen over order totals — the classic
    fabricated-data / broken-generator detector a DQ pipeline runs
    on any monetary column: observed first-significant-digit counts
    and shares against the Benford expectation log10(1 + 1/d), with
    each digit's chi-square contribution (a large term on one digit
    is the actionable signal; the total is their sum). Expected
    shares are pinned 6dp LITERALS on both engines — the one
    transcendental in the method never computes at query time, so
    the whole screen is oracle-exact (digit extraction runs on
    exact integer cents, counts are exact, and the chi-square
    arithmetic is the same IEEE expression over identical inputs).

    Engine shape: one scan -> 9-row hash aggregate -> broadcast of
    the 9-row expectation table and the 1-row total (whitelisted
    scalar-subquery shape). At 100 TB the cost is the scan,
    full stop. Reference parity: none; north-star §2D data-quality
    depth.
    """
    exp_df = spark.createDataFrame(
        list(_BENFORD.items()), "digit bigint, expected double")
    orders = load_table(spark, sf_dir, "orders").select("o_totalprice")
    x = orders.select(
        F.substring(F.round(F.col("o_totalprice") * 100).cast("bigint")
                    .cast("string"), 1, 1).cast("bigint").alias("digit"))
    c = x.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(F.sum("n").alias("total"))
    dev = F.col("n") - F.col("total") * F.col("expected")
    return (c.join(F.broadcast(exp_df), "digit")
            .crossJoin(F.broadcast(t))
            .select("digit", "n",
                    F.round(F.col("n").cast("double")
                            / F.col("total"), 6).alias("share"),
                    "expected",
                    F.round(dev * dev
                            / (F.col("total") * F.col("expected")), 6)
                    .alias("chi2_term")))


@register(
    "q_quantile_normalize",
    oracle="""
    WITH vc AS (
        SELECT source, n_chars, CAST(COUNT(*) AS BIGINT) AS c
        FROM documents GROUP BY 1, 2),
    cum AS (
        SELECT source, n_chars, c,
               COALESCE(SUM(c) OVER (PARTITION BY source ORDER BY n_chars
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS cum_before,
               SUM(c) OVER (PARTITION BY source) AS n_source
        FROM vc),
    dec AS (
        SELECT source, n_chars, c,
               CAST((10 * cum_before) // n_source + 1 AS INT) AS decile
        FROM cum)
    SELECT source, decile,
           CAST(SUM(c) AS BIGINT) AS n_docs,
           MIN(n_chars) AS lo, MAX(n_chars) AS hi
    FROM dec GROUP BY 1, 2
    """,
    tags=("stats", "quantile", "calibration", "normalize"),
)
def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quantile normalization: every document's raw
    ``n_chars`` maps to its WITHIN-SOURCE decile, making length
    scores comparable across sources whose raw distributions differ
    — the standard calibration step before mixing heterogeneous
    quality signals into one curation rule (a '2000-char' doc can
    be p30 in one crawl and p95 in another). Ties are cohesive:
    equal values land in the same decile via the lower-cumulative
    rule ``decile = (10 * count_below) DIV n + 1``, all exact
    integer arithmetic with no interpolation seam.

    Scale shape: the corpus collapses FIRST to (source, value)
    counts — one combiner-reduced shuffle — and every window runs
    over that value-cardinality-bounded relation (distinct doc
    lengths, bounded by the length cap), never over the documents
    themselves: the grouped twin of q_equidepth_histogram's
    boundary trick, and the opposite of the source-sized-window
    shape the plan audit forbids. Output is sources × 10 rows
    regardless of corpus size. Reference parity: none; north-star
    §2D curation depth.
    """
    docs = load_table(spark, sf_dir, "documents").select("source",
                                                         "n_chars")
    vc = (docs.groupBy("source", "n_chars")
          .agg(F.count(F.lit(1)).alias("c")))
    w_cum = (Window.partitionBy("source").orderBy("n_chars")
             .rowsBetween(Window.unboundedPreceding, -1))
    w_all = Window.partitionBy("source")
    dec = (vc
           .withColumn("cum_before",
                       F.coalesce(F.sum("c").over(w_cum), F.lit(0)))
           .withColumn("n_source", F.sum("c").over(w_all))
           .withColumn("decile",
                       F.expr("CAST((10 * cum_before) DIV n_source + 1"
                              " AS INT)")))
    return (dec.groupBy("source", "decile")
            .agg(F.sum("c").alias("n_docs"),
                 F.min("n_chars").alias("lo"),
                 F.max("n_chars").alias("hi")))


@register(
    "q_selfjoin_size_stats",
    oracle="""
    WITH kc AS (
        SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c
        FROM lineitem GROUP BY 1),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(c * c) AS BIGINT) AS predicted_rows,
               MAX(c) AS max_fanout,
               (SELECT l_partkey FROM kc
                ORDER BY c DESC, l_partkey DESC LIMIT 1) AS hottest_key
        FROM kc),
    actual AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS actual_rows
        FROM lineitem a JOIN lineitem b ON a.l_partkey = b.l_partkey)
    SELECT n_keys, predicted_rows, max_fanout, hottest_key, actual_rows
    FROM stats, actual
    """,
    tags=("stats", "join-planning", "skew", "f2"),
)
def q_selfjoin_size_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size prediction from key statistics: the exact output
    cardinality of the lineitem-lineitem self-equi-join on
    ``l_partkey`` computed WITHOUT running the join — sum(c²) over
    the per-key count histogram (the second frequency moment F2,
    the quantity AMS sketches estimate), plus the max fanout and
    the hottest key, i.e. the skew census a production engineer
    runs BEFORE a co-purchase/self-join job to decide between
    plain, salted, or AQE-skew-split execution. The materialized
    join is verifier-role: the oracle (and this query) also COUNT
    the real join, proving predicted_rows == actual_rows per run —
    at 100 TB only the O(distinct keys) stats side runs.

    Scale shape: one combiner-reduced key agg, then a 1-row
    aggregate (the hottest-key argmax is ``max(struct(c, key))`` —
    exact deterministic tie-break, no sort); the verifier join's
    cost is the predicted F2 itself, which is exactly why you
    compute the cheap side first. Reference parity: none;
    north-star planning/observability depth next to q_data_card
    and q_profile_columns.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey")
    kc = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    stats = kc.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(F.col("c") * F.col("c")).alias("predicted_rows"),
        F.max("c").alias("max_fanout"),
        F.max(F.struct(F.col("c"), F.col("l_partkey")))["l_partkey"]
        .alias("hottest_key"))
    actual = (li.alias("a")
              .join(li.alias("b"),
                    F.col("a.l_partkey") == F.col("b.l_partkey"))
              .agg(F.count(F.lit(1)).alias("actual_rows")))
    return stats.crossJoin(F.broadcast(actual))


_BOOT_B = 32
_BOOT_STREAMS = 8            # md5 digests per row; each yields 4 uniforms
_BOOT_BITS = 15              # bits per uniform (60-bit digest prefix / 4)
# Poisson(1) CDF quantized to 15 bits: floor(P(X <= k) * 32768) for
# k = 0..5. weight = #(thresholds <= v), capping replicate
# multiplicity at 6 (P(X > 6) ~ 0.008%); the quantization and the cap
# are part of the contract and identical literals in both engines.
_BOOT_CDF_Q = (12054, 24109, 30136, 32145, 32648, 32748)


def _bootstrap_oracle() -> str:
    terms_w, terms_wx = [], []
    for b in range(_BOOT_B):
        j, p = divmod(b, 4)
        chunk = f"((z{j} // {32768 ** p}) % 32768)"
        w = " + ".join(
            f"CASE WHEN {chunk} >= {t} THEN 1 ELSE 0 END"
            for t in _BOOT_CDF_Q)
        terms_w.append(f"SUM({w}) AS w{b}")
        terms_wx.append(f"SUM(({w}) * x) AS wx{b}")
    zs = ",\n               ".join(
        f"CAST(('0x' || substr(md5('{j}|' || k), 1, 15)) AS BIGINT) AS z{j}"
        for j in range(_BOOT_STREAMS))
    means = ", ".join(f"wx{b} * 1.0 / w{b}" for b in range(_BOOT_B))
    return f"""
    WITH t AS (
        SELECT CAST(l_orderkey AS VARCHAR) || '-'
               || CAST(l_linenumber AS VARCHAR) AS k,
               l_quantity AS x
        FROM lineitem),
    z AS (
        SELECT x,
               {zs}
        FROM t),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               SUM(x) AS sum_x,
               {", ".join(terms_w)},
               {", ".join(terms_wx)}
        FROM z),
    m AS (SELECT n_rows, sum_x,
                 list_sort([{means}]) AS ms FROM agg)
    SELECT n_rows,
           ROUND(sum_x / n_rows, 6) AS point_mean,
           ROUND(ms[1] * 0.225 + ms[2] * 0.775, 6) AS ci_lo,
           ROUND(ms[31] * 0.775 + ms[32] * 0.225, 6) AS ci_hi
    FROM m
    """


@register(
    "q_poisson_bootstrap_ci",
    oracle=_bootstrap_oracle(),
    tags=("stats", "bootstrap", "uncertainty", "sampling"),
)
def q_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% bootstrap confidence interval for mean(l_quantity) via the
    POISSON BOOTSTRAP — the one-pass resampling scheme for massive
    data (each row enters replica b with Poisson(1) multiplicity, so
    no replica ever materializes and no global N is needed up
    front; Chamandy et al., "Estimating Uncertainty for Massive
    Data Streams", 2012). All randomness is md5-derived and
    BIT-BUDGETED: 8 digests per row each supply four 15-bit
    uniforms (integer DIV/mod extraction from the 60-bit digest
    prefix), mapped through the 15-bit-quantized Poisson CDF
    literals to replicate weights 0..6 — so both engines draw
    bit-identical weights from ~10x less hashing than one digest
    per (row, replica). Weighted sums stay in exact arithmetic
    (integer weights x integer-valued quantities, far inside the
    2^53 exact-double range), so replica means carry no
    accumulation-order seam; rows sharing the (orderkey,
    linenumber) key draw the same weights (exact-duplicate rows
    resample together — documented, deterministic).

    Scale shape: the ENTIRE query is one scan + one 66-column
    aggregate (sum of w_b and w_b*x per replica, plus n and sum x)
    — per-partition state is O(B) scalars, there is NO explode, NO
    shuffle beyond the 1-row aggregate merge, and NO join; the CI
    interpolates closed-form over the sorted 32-element mean array
    inside that single row (the exact (n-1)*q rule both engines
    share). This is why the Poisson bootstrap is THE uncertainty
    method at 100 TB: B=32 resamples for one pass and 64 longs of
    state. Reference parity: none; north-star §2D statistics depth
    next to q_aqp_estimate and q_weighted_sample.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        F.concat(F.col("l_orderkey").cast("string"), F.lit("-"),
                 F.col("l_linenumber").cast("string")).alias("k"),
        F.col("l_quantity").alias("x"))
    z = li.select(
        "x", *[F.conv(F.substring(
            F.md5(F.concat(F.lit(f"{j}|"), F.col("k"))), 1, 15),
            16, 10).cast("bigint").alias(f"z{j}")
            for j in range(_BOOT_STREAMS)])

    def weight(b: int):
        j, p = divmod(b, 4)
        chunk = F.expr(f"(z{j} DIV {32768 ** p}) % 32768")
        w = sum(F.when(chunk >= t, 1).otherwise(0) for t in _BOOT_CDF_Q)
        return w

    aggs = [F.count(F.lit(1)).alias("n_rows"),
            F.sum("x").alias("sum_x")]
    for b in range(_BOOT_B):
        w = weight(b)
        aggs.append(F.sum(w).alias(f"w{b}"))
        aggs.append(F.sum(w * F.col("x")).alias(f"wx{b}"))
    agg = z.agg(*aggs)
    ms = F.array_sort(F.array(
        *[F.col(f"wx{b}") / F.col(f"w{b}") for b in range(_BOOT_B)]))
    return (agg.select("n_rows", "sum_x", ms.alias("ms"))
            .select(
                "n_rows",
                F.round(F.col("sum_x") / F.col("n_rows"), 6)
                .alias("point_mean"),
                F.round(F.element_at("ms", 1) * 0.225
                        + F.element_at("ms", 2) * 0.775, 6).alias("ci_lo"),
                F.round(F.element_at("ms", 31) * 0.775
                        + F.element_at("ms", 32) * 0.225, 6)
                .alias("ci_hi")))


@register(
    "q_roc_auc",
    oracle="""
    WITH vc AS (
        SELECT source, n_chars,
               CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                    AS BIGINT) AS pos,
               CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)
                    AS BIGINT) AS neg
        FROM documents GROUP BY 1, 2),
    r AS (
        SELECT source, pos, neg,
               COALESCE(SUM(pos + neg) OVER (
                   PARTITION BY source ORDER BY n_chars
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS cum_before
        FROM vc),
    agg AS (
        SELECT source,
               CAST(SUM(pos) AS BIGINT) AS n_pos,
               CAST(SUM(neg) AS BIGINT) AS n_neg,
               CAST(SUM(pos * (2 * cum_before + pos + neg + 1))
                    AS BIGINT) AS pos_2ranks
        FROM r GROUP BY source)
    SELECT source, n_pos, n_neg,
           ROUND((pos_2ranks - n_pos * (n_pos + 1))
                 / (2.0 * n_pos * n_neg), 6) AS auc
    FROM agg WHERE n_pos > 0 AND n_neg > 0
    """,
    tags=("stats", "ml-eval", "auc", "ranking"),
)
def q_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distributed ROC-AUC per source for the score n_chars
    predicting lang = 'en', via the Mann-Whitney U identity
    AUC = (R_pos - n_pos(n_pos+1)/2) / (n_pos * n_neg) with
    tie-AVERAGED ranks — the textbook estimator, computed without
    ever ranking individual rows: the corpus collapses to
    (source, score-value) positive/negative counts, and a tie
    group's average rank is cum_before + (c+1)/2, carried in
    HALF-UNITS (2*avg = 2*cum_before + c + 1) so every intermediate
    stays an exact integer — no float accumulation seam, bit-equal
    across engines and cluster layouts.

    Scale shape: one combiner-reduced (source, value) agg, then
    windows over the value-cardinality-bounded relation (same
    posture as q_quantile_normalize — never a window over rows),
    then a per-source 3-integer aggregate. At 100 TB, AUC costs one
    corpus scan plus vocabulary-sized state: the reason ranking
    metrics are computable on full production traffic instead of
    samples. Degenerate single-class sources are excluded (AUC
    undefined), matching the oracle. Reference parity: none;
    north-star §2D ML-eval depth next to q_ndcg_eval.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "source", "n_chars",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"))
    vc = (docs.groupBy("source", "n_chars")
          .agg(F.sum("y").alias("pos"),
               F.sum(1 - F.col("y")).alias("neg")))
    w = (Window.partitionBy("source").orderBy("n_chars")
         .rowsBetween(Window.unboundedPreceding, -1))
    r = vc.withColumn(
        "cum_before",
        F.coalesce(F.sum(F.col("pos") + F.col("neg")).over(w), F.lit(0)))
    agg = (r.groupBy("source")
           .agg(F.sum("pos").alias("n_pos"),
                F.sum("neg").alias("n_neg"),
                F.sum(F.col("pos") * (2 * F.col("cum_before")
                                      + F.col("pos") + F.col("neg") + 1))
                .alias("pos_2ranks")))
    return (agg.where((F.col("n_pos") > 0) & (F.col("n_neg") > 0))
            .select("source", "n_pos", "n_neg",
                    F.round((F.col("pos_2ranks")
                             - F.col("n_pos") * (F.col("n_pos") + 1))
                            / (2.0 * F.col("n_pos") * F.col("n_neg")), 6)
                    .alias("auc")))


@register(
    "q_gains_table",
    oracle="""
    WITH d AS (
        SELECT n_chars,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents),
    vc AS (
        SELECT n_chars, CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(y) AS BIGINT) AS pos
        FROM d GROUP BY 1),
    cum AS (
        SELECT n_chars, c, pos,
               COALESCE(SUM(c) OVER (ORDER BY n_chars DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS cum_before,
               SUM(c) OVER () AS n,
               SUM(pos) OVER () AS total_pos
        FROM vc),
    dec AS (
        SELECT CAST((10 * cum_before) // n + 1 AS INT) AS decile,
               c, pos, n, total_pos
        FROM cum)
    SELECT decile,
           CAST(SUM(c) AS BIGINT) AS n_docs,
           CAST(SUM(pos) AS BIGINT) AS n_pos,
           ROUND(SUM(pos) * 1.0 / SUM(c), 6) AS rate,
           ROUND(SUM(pos) * 1.0 * MAX(n)
                 / (SUM(c) * MAX(total_pos)), 6) AS lift
    FROM dec GROUP BY 1
    """,
    tags=("stats", "ml-eval", "lift", "calibration"),
)
def q_gains_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile gains/lift table for the score n_chars against the
    label lang = 'en' — the model-eval staple behind 'top-decile
    lift': rank the population by score DESCENDING, cut into
    tie-cohesive deciles (lower-cumulative rule, exact integers),
    and report per-decile positive rate and lift over the base
    rate. Lift is computed as the exact rational
    pos_d * N / (n_d * total_pos) before one final rounding — no
    chained float division.

    Scale shape: identical to q_quantile_normalize — the population
    collapses to score-value counts first, all windows run over the
    value-cardinality-bounded relation (the global windows are over
    distinct score values, bounded by the length cap, and the
    audit's documented-bound contract), output is exactly 10 rows.
    Reference parity: none; north-star §2D ML-eval depth.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "n_chars",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"))
    vc = (docs.groupBy("n_chars")
          .agg(F.count(F.lit(1)).alias("c"), F.sum("y").alias("pos")))
    w_cum = (Window.orderBy(F.col("n_chars").desc())
             .rowsBetween(Window.unboundedPreceding, -1))
    w_all = (Window.orderBy(F.lit(1))
             .rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing))
    dec = (vc
           .withColumn("cum_before",
                       F.coalesce(F.sum("c").over(w_cum), F.lit(0)))
           .withColumn("n", F.sum("c").over(w_all))
           .withColumn("total_pos", F.sum("pos").over(w_all))
           .withColumn("decile",
                       F.expr("CAST((10 * cum_before) DIV n + 1 AS INT)")))
    return (dec.groupBy("decile")
            .agg(F.sum("c").alias("n_docs"),
                 F.sum("pos").alias("n_pos"),
                 F.round(F.sum("pos") / F.sum("c"), 6).alias("rate"),
                 F.round(F.sum("pos") * F.max("n")
                         / (F.sum("c") * F.max("total_pos")), 6)
                 .alias("lift")))


_WELCH_SCALE = 1000  # value -> floor(value*1000): the sums become
                     # exact integers (bounded ~2.5e16 << 2^63), so
                     # the t statistic is a deterministic function of
                     # six exact integers — no accumulation-order seam


@register(
    "q_ab_test_welch",
    oracle=f"""
    WITH g AS (
        SELECT event_type AS grp,
               CAST(FLOOR(value * {_WELCH_SCALE}) AS BIGINT) AS y
        FROM events
        WHERE event_type IN ('click', 'purchase') AND isfinite(value)),
    s AS (
        SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(y * y) AS BIGINT) AS syy
        FROM g GROUP BY grp),
    m AS (
        SELECT grp, n, sy * 1.0 / n AS mean,
               (syy - sy * (sy * 1.0 / n)) / (n - 1) AS var
        FROM s),
    w AS (
        SELECT a.n AS n_click, b.n AS n_purchase,
               a.mean AS m_click, b.mean AS m_purchase,
               a.var / a.n + b.var / b.n AS se2,
               POW(a.var / a.n + b.var / b.n, 2)
                   / (POW(a.var / a.n, 2) / (a.n - 1)
                      + POW(b.var / b.n, 2) / (b.n - 1)) AS df
        FROM m a JOIN m b ON a.grp = 'click' AND b.grp = 'purchase')
    SELECT n_click, n_purchase,
           ROUND(m_click / {_WELCH_SCALE}, 6) AS mean_click,
           ROUND(m_purchase / {_WELCH_SCALE}, 6) AS mean_purchase,
           ROUND((m_click - m_purchase) / SQRT(se2), 6) AS t_stat,
           ROUND(df, 6) AS welch_df
    FROM w
    """,
    tags=("stats", "ab-test", "hypothesis", "welch"),
)
def q_ab_test_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test comparing mean event value
    between the click and purchase populations — the A/B-test
    statistic (with the Welch–Satterthwaite degrees of freedom)
    computed as ONE pass of six exact integers: values are
    integer-scaled (floor(value*1000)), so per-group n, sum, and
    sum-of-squares are exact bigints and the t statistic is a
    deterministic closed form of them — the same
    no-accumulation-seam discipline as q_groupwise_ols, which is
    what makes a test statistic reproducible across cluster
    layouts (a float-summed variance is not). Non-finite values are
    filtered at ingestion (the dirty-tier hygiene contract).

    Scale shape: one scan, one 2-group aggregate with map-side
    partials, a 2×2 self-join of the 2-row stats relation —
    everything after the scan is O(groups). At 100 TB an A/B read
    costs exactly one pass, which is why experimentation platforms
    compute moments, not samples. Reference parity: none;
    north-star §2D statistics depth next to q_poisson_bootstrap_ci.
    """
    ev = (load_table(spark, sf_dir, "events")
          .where(F.col("event_type").isin("click", "purchase")
                 & ~F.isnan("value")
                 & (F.abs("value") != float("inf")))
          .select(F.col("event_type").alias("grp"),
                  F.floor(F.col("value") * _WELCH_SCALE).alias("y")))
    s = (ev.groupBy("grp")
         .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("sy"),
              F.sum(F.col("y") * F.col("y")).alias("syy")))
    m = s.select(
        "grp", "n", (F.col("sy") / F.col("n")).alias("mean"),
        ((F.col("syy") - F.col("sy") * (F.col("sy") / F.col("n")))
         / (F.col("n") - 1)).alias("var"))
    a = m.where(F.col("grp") == "click").alias("a")
    b = m.where(F.col("grp") == "purchase").alias("b")
    se2 = F.col("a.var") / F.col("a.n") + F.col("b.var") / F.col("b.n")
    df_num = F.pow(se2, 2)
    df_den = (F.pow(F.col("a.var") / F.col("a.n"), 2) / (F.col("a.n") - 1)
              + F.pow(F.col("b.var") / F.col("b.n"), 2)
              / (F.col("b.n") - 1))
    return (a.crossJoin(F.broadcast(b))
            .select(F.col("a.n").alias("n_click"),
                    F.col("b.n").alias("n_purchase"),
                    F.round(F.col("a.mean") / _WELCH_SCALE, 6)
                    .alias("mean_click"),
                    F.round(F.col("b.mean") / _WELCH_SCALE, 6)
                    .alias("mean_purchase"),
                    F.round((F.col("a.mean") - F.col("b.mean"))
                            / F.sqrt(se2), 6).alias("t_stat"),
                    F.round(df_num / df_den, 6).alias("welch_df")))


@register(
    "q_chisq_independence",
    oracle="""
    WITH o AS (
        SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS observed
        FROM documents GROUP BY 1, 2),
    rt AS (SELECT source, CAST(SUM(observed) AS BIGINT) AS row_n
           FROM o GROUP BY 1),
    ct AS (SELECT lang, CAST(SUM(observed) AS BIGINT) AS col_n
           FROM o GROUP BY 1),
    n AS (SELECT CAST(SUM(observed) AS BIGINT) AS total FROM o)
    SELECT o.source, o.lang, observed,
           ROUND(row_n * col_n * 1.0 / total, 6) AS expected,
           ROUND(POW(observed - row_n * col_n * 1.0 / total, 2)
                 / (row_n * col_n * 1.0 / total), 6) AS contrib
    FROM o JOIN rt USING (source) JOIN ct USING (lang) CROSS JOIN n
    """,
    tags=("stats", "chi-square", "independence", "contingency"),
)
def q_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence screen over the source × lang
    contingency table: per-cell observed count, expected count
    under independence (row_total × col_total / N, an exact
    rational of three integers), and the cell's chi² contribution —
    the drill-down form of the test, which names WHICH
    source/language pairs deviate instead of burying them in one
    statistic (the total is a float sum over cells whose
    accumulation order clusters may disagree on; per-cell values
    are each deterministic, so the output is bit-stable — the same
    reasoning as q_benford_screen's per-digit terms).

    Scale shape: one (source, lang) count agg; marginals re-aggregate
    from the CELL relation (categories² rows, never the corpus) and
    attach via broadcast-sized joins plus the whitelisted 1-row
    total. Output is |sources| × |langs| rows regardless of data
    size. Reference parity: none; north-star §2D statistics depth.
    """
    o = (load_table(spark, sf_dir, "documents")
         .groupBy("source", "lang")
         .agg(F.count(F.lit(1)).alias("observed")))
    rt = o.groupBy("source").agg(F.sum("observed").alias("row_n"))
    ct = o.groupBy("lang").agg(F.sum("observed").alias("col_n"))
    n = o.agg(F.sum("observed").alias("total"))
    e = F.col("row_n") * F.col("col_n") / F.col("total")
    return (o.join(F.broadcast(rt), "source")
            .join(F.broadcast(ct), "lang")
            .crossJoin(F.broadcast(n))
            .select("source", "lang", "observed",
                    F.round(e, 6).alias("expected"),
                    F.round(F.pow(F.col("observed") - e, 2) / e, 6)
                    .alias("contrib")))


_WF_FOLDS = 4
_WF_STEP_DAYS = 6


@register(
    "q_walk_forward_splits",
    oracle=f"""
    WITH d AS (
        SELECT CAST(date_diff('day',
                    (SELECT MIN(CAST(ts AS DATE)) FROM events),
                    CAST(ts AS DATE)) AS BIGINT) AS idx
        FROM events),
    dc AS (SELECT idx, CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY 1),
    folds AS (SELECT UNNEST(range(1, {_WF_FOLDS} + 1)) AS fold)
    SELECT fold,
           CAST(fold * {_WF_STEP_DAYS} AS BIGINT) AS train_days,
           CAST(SUM(CASE WHEN idx < fold * {_WF_STEP_DAYS}
                         THEN c ELSE 0 END) AS BIGINT) AS n_train,
           CAST(SUM(CASE WHEN idx >= fold * {_WF_STEP_DAYS}
                          AND idx < fold * {_WF_STEP_DAYS}
                                    + {_WF_STEP_DAYS}
                         THEN c ELSE 0 END) AS BIGINT) AS n_test
    FROM dc CROSS JOIN folds
    GROUP BY fold
    """,
    tags=("stats", "ml-eval", "temporal-split", "walk-forward"),
)
def q_walk_forward_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk-forward (rolling-origin) validation splits over the event
    stream: fold k trains on the first 6k days and tests on the next
    6 — the TEMPORAL split discipline for anything with time
    structure, where a random split leaks the future into training
    (complementing q_leakage_free_split, which closes the
    NEAR-DUPLICATE leak; production curation needs both). Emits per
    fold the train horizon and exact train/test row counts anchored
    on the corpus' own first day, so the split recipe is
    reproducible on any time range.

    Scale shape: the stream collapses to per-day counts first (one
    calendar-bounded agg — same discipline as q_cusum_changepoint's
    hourly series), and fold assignment is a tiny
    days × folds literal cross (30×4 rows here, broadcast) — the
    corpus is scanned once and nothing row-sized crosses a shuffle
    after that. The min-date anchor is the whitelisted 1-row scalar.
    Reference parity: none; north-star §2D curation depth.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day"))
    mind = ev.agg(F.min("day").alias("d0"))
    dc = (ev.crossJoin(F.broadcast(mind))
          .select(F.datediff("day", "d0").cast("bigint").alias("idx"))
          .groupBy("idx").agg(F.count(F.lit(1)).alias("c")))
    folds = spark.range(1, _WF_FOLDS + 1).select(
        F.col("id").cast("int").alias("fold"))
    lo = F.col("fold") * _WF_STEP_DAYS
    return (dc.crossJoin(F.broadcast(folds))
            .groupBy("fold")
            .agg(F.max(lo).cast("bigint").alias("train_days"),
                 F.sum(F.when(F.col("idx") < lo, F.col("c"))
                       .otherwise(0)).alias("n_train"),
                 F.sum(F.when((F.col("idx") >= lo)
                              & (F.col("idx") < lo + _WF_STEP_DAYS),
                              F.col("c")).otherwise(0)).alias("n_test")))


_LC_FRACTIONS = (0.1, 0.25, 0.5, 1.0)


def _learning_curve_oracle() -> str:
    fr = ", ".join(repr(f) for f in _LC_FRACTIONS)
    return f"""
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
        SELECT doc_id, lang,
               CASE WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 THEN 'unknown'
                    WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
                    WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
                    WHEN s_fr >= s_es THEN 'fr'
                    ELSE 'es' END AS predicted,
               (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                     AS BIGINT) % 1000000) / 1000000.0 AS u
        FROM s),
    fr AS (SELECT UNNEST([{fr}]) AS fraction)
    SELECT fraction,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(SUM(CASE WHEN lang = predicted THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 6) AS accuracy
    FROM p CROSS JOIN fr
    WHERE u < fraction
    GROUP BY fraction
    """


@register(
    "q_learning_curve",
    oracle=_learning_curve_oracle(),
    tags=("stats", "ml-eval", "learning-curve", "ablation"),
)
def q_learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-ablation learning curve: lang-id accuracy measured on
    deterministic NESTED subsets of 10% / 25% / 50% / 100% of the
    corpus — the 'how much data do we actually need' curve every
    curation budget decision rests on. Subsets come from the
    md5-fraction of doc_id (the q_leakage_free_split hash family),
    so they are reproducible and nested by construction (the 10%
    set is contained in the 25% set — the property that makes the
    curve monotone-comparable, which independent samples lack).

    Scale shape: ONE classifier scan; each doc's hash fraction is
    computed once and the 4-row fraction table crosses as a
    broadcast literal before a fractions-cardinality aggregate —
    subsetting never rescans, and the whole curve costs one pass
    regardless of how many budget points are probed. All counts
    exact integers. Reference parity: none; north-star §2D
    ML-eval/curation depth.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = tokens()

    def score(words) -> object:
        return F.size(F.filter(w, lambda x: F.array_contains(
            F.array(*[F.lit(s) for s in words]), x)))

    s_en = score(["the", "a", "of", "to", "and", "in", "is"])
    s_de = score(["der", "die", "das", "und", "ist", "ein"])
    s_fr = score(["le", "la", "les", "et", "est", "un"])
    s_es = score(["el", "la", "los", "y", "es", "un"])
    predicted = (
        F.when((s_en == 0) & (s_de == 0) & (s_fr == 0) & (s_es == 0),
               "unknown")
        .when((s_en >= s_de) & (s_en >= s_fr) & (s_en >= s_es), "en")
        .when((s_de >= s_fr) & (s_de >= s_es), "de")
        .when(s_fr >= s_es, "fr")
        .otherwise("es"))
    u = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                16, 10).cast("bigint") % 1000000) / 1000000.0
    p = docs.select("lang", predicted.alias("predicted"), u.alias("u"))
    fr = spark.createDataFrame([(f,) for f in _LC_FRACTIONS],
                               "fraction double")
    return (p.crossJoin(F.broadcast(fr))
            .where(F.col("u") < F.col("fraction"))
            .groupBy("fraction")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.round(F.sum(F.when(F.col("lang") == F.col("predicted"),
                                      1).otherwise(0))
                         / F.count(F.lit(1)), 6).alias("accuracy")))


_HRW_FROM = 8    # shard counts before/after the resize
_HRW_TO = 9


def _hrw_oracle() -> str:
    def pick(n: int, alias: str) -> str:
        return (f"""(SELECT s FROM (SELECT UNNEST(range({n})) AS s) sh
               ORDER BY md5(CAST(sh.s AS VARCHAR) || '#' ||
                            CAST(c_custkey AS VARCHAR)) DESC, sh.s
               LIMIT 1) AS {alias}""")
    return f"""
    WITH a AS (
        SELECT c_custkey,
               {pick(_HRW_FROM, "shard_before")},
               {pick(_HRW_TO, "shard_after")}
        FROM customer)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CASE WHEN shard_before <> shard_after
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
           ROUND(SUM(CASE WHEN shard_before <> shard_after
                          THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
               AS moved_frac,
           CAST(COUNT(DISTINCT shard_after) AS BIGINT) AS shards_after
    FROM a
    """


@register(
    "q_rendezvous_sharding",
    oracle=_hrw_oracle(),
    tags=("infra", "sharding", "consistent-hashing", "rendezvous"),
)
def q_rendezvous_sharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) sharding of customer keys,
    measured across a shard-count resize 8 → 9: each key lands on
    the shard whose md5(shard#key) weight is highest, and the
    consistent-hashing guarantee — ONLY keys whose new shard wins
    move, an expected 1/9 ≈ 0.111 of them, vs 8/9 for mod-N — is
    verified as data (n_moved / n_keys). This is the assignment
    discipline behind stateful shard resizing (state stores,
    streaming keyed state, distributed caches): a resize reshuffles
    a 1/N sliver, not the world.

    Scale shape: the per-key argmax evaluates ARRAY-LOCALLY —
    ``array_max`` over an N-element literal-seeded struct array
    inside the row projection (ties broken toward the lower shard
    id via the struct's descending-weight/ascending-id order), no
    explode, no join, one corpus scan into a 1-row aggregate. Cost
    is O(rows × shards) hashes with nothing crossing a shuffle.
    Reference parity: the reference's ihash(key) % nReduce
    (mr/worker.go:41) is exactly the mod-N scheme whose resize
    moves (N-1)/N of all keys; this is its production replacement.
    """
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")

    def pick(n: int):
        weights = F.array(*[
            F.struct(
                F.md5(F.concat(F.lit(f"{s}#"),
                               F.col("c_custkey").cast("string")))
                .alias("w"),
                F.lit(-s).cast("int").alias("neg_s"))
            for s in range(n)])
        best = F.array_max(weights)
        return (-best["neg_s"]).cast("bigint")

    a = cust.select(pick(_HRW_FROM).alias("shard_before"),
                    pick(_HRW_TO).alias("shard_after"))
    moved = F.when(F.col("shard_before") != F.col("shard_after"),
                   1).otherwise(0)
    return a.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(moved).alias("n_moved"),
        F.round(F.sum(moved) / F.count(F.lit(1)), 6).alias("moved_frac"),
        F.countDistinct("shard_after").alias("shards_after"))


_KANON_K = 5


@register(
    "q_k_anonymity",
    oracle=f"""
    WITH g AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS group_size,
               CAST(COUNT(DISTINCT CASE WHEN c_acctbal < 0 THEN 'neg'
                                        WHEN c_acctbal < 5000 THEN 'low'
                                        ELSE 'high' END) AS BIGINT)
                   AS l_diversity
        FROM customer GROUP BY 1, 2)
    SELECT c_nationkey, c_mktsegment, group_size, l_diversity,
           group_size >= {_KANON_K} AS k_anonymous
    FROM g
    """,
    tags=("privacy", "k-anonymity", "l-diversity", "audit"),
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit of the customer table before release: for every
    quasi-identifier combination (nation × market segment), the
    equivalence-class size (k-anonymity: a group smaller than k = 5
    re-identifies its members) and the l-diversity of the sensitive
    attribute (distinct account-balance bands inside the group — a
    k-anonymous group where everyone shares one sensitive value
    still leaks it). Flagging, not suppressing: the release
    pipeline drops or generalizes the flagged rows, and this query
    is the audit artifact attached to the release.

    Scale shape: one combiner-reduced QI-keyed aggregate (the
    distinct-count is over a 3-value band vocabulary, constant
    state per group); output is |QI-combinations| rows regardless
    of table size. At 100 TB the audit costs one scan — which is
    why k-anonymity screening runs on every release, not samples.
    All values exact integers/booleans. Reference parity: none;
    north-star §2D governance depth next to q_pii_scrub and
    q_data_card.
    """
    cust = load_table(spark, sf_dir, "customer")
    band = (F.when(F.col("c_acctbal") < 0, "neg")
            .when(F.col("c_acctbal") < 5000, "low").otherwise("high"))
    return (cust.groupBy("c_nationkey", "c_mktsegment")
            .agg(F.count(F.lit(1)).alias("group_size"),
                 F.countDistinct(band).alias("l_diversity"))
            .select("c_nationkey", "c_mktsegment", "group_size",
                    "l_diversity",
                    (F.col("group_size") >= _KANON_K)
                    .alias("k_anonymous")))


@register(
    "q_ks_test",
    oracle="""
    WITH vc AS (
        SELECT source, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
        FROM documents GROUP BY 1, 2),
    vals AS (
        SELECT v, CAST(SUM(c) AS BIGINT) AS c_all FROM vc GROUP BY 1),
    cum_all AS (
        SELECT v, SUM(c_all) OVER (ORDER BY v
                   ROWS UNBOUNDED PRECEDING) AS cum_a,
               SUM(c_all) OVER () AS n
        FROM vals),
    srcs AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_s
             FROM vc GROUP BY 1),
    grid AS (
        SELECT s.source, s.n_s, a.v, a.cum_a, a.n,
               SUM(COALESCE(vc.c, 0)) OVER (
                   PARTITION BY s.source ORDER BY a.v
                   ROWS UNBOUNDED PRECEDING) AS cum_s
        FROM srcs s CROSS JOIN cum_all a
        LEFT JOIN vc ON vc.source = s.source AND vc.v = a.v),
    d AS (
        SELECT source, n_s, n - n_s AS n_r, v,
               ABS(cum_s * (n - n_s) - (cum_a - cum_s) * n_s) AS d2
        FROM grid),
    mx AS (SELECT source, MAX(d2) AS mx2 FROM d GROUP BY 1)
    SELECT d.source,
           CAST(d.n_s AS BIGINT) AS n_source,
           CAST(d.n_r AS BIGINT) AS n_rest,
           ROUND(mx.mx2 * 1.0 / (d.n_s * d.n_r), 6) AS ks_d,
           CAST(MIN(d.v) AS BIGINT) AS at_value
    FROM d JOIN mx ON mx.source = d.source AND d.d2 = mx.mx2
    GROUP BY d.source, d.n_s, d.n_r, mx.mx2
    """,
    tags=("stats", "distribution-test", "drift", "governance"),
)
def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT two-sample Kolmogorov-Smirnov statistic per source:
    D = sup_x |F_source(x) - F_rest(x)| for the n_chars length
    distribution of each source against the rest of the corpus —
    the nonparametric ingest-drift screen that needs no binning
    choice (unlike chi-square) and no moment assumptions (unlike
    Welch). Both ECDFs are step functions whose jumps all sit at
    corpus values, so the supremum is attained at one of the
    distinct values; D is carried as the exact INTEGER
    |cum_s*n_r - cum_r*n_s| and divided once at the end — no float
    accumulation seam, bit-equal across engines. Ties broken to the
    smallest attaining value.

    Scale shape: the corpus collapses to (source, value) counts in
    one combiner-reduced aggregate; every window after that runs
    over the value-cardinality-bounded grid (|sources| x |distinct
    values| rows — for continuous columns, pre-bucket to make this
    bounded, same contract as q_quantile_normalize / q_roc_auc).
    At 100 TB: one scan plus vocabulary-sized state — full-traffic
    distribution testing, not samples. Reference parity: none;
    north-star §2D statistics depth next to q_ab_test_welch
    (moments) and q_chisq_independence (categories).
    """
    docs = load_table(spark, sf_dir, "documents")
    vc = (docs.groupBy("source", F.col("n_chars").alias("v"))
          .agg(F.count(F.lit(1)).alias("c")))
    vals = vc.groupBy("v").agg(F.sum("c").alias("c_all"))
    w_all = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum_all = vals.select(
        "v", F.sum("c_all").over(w_all).alias("cum_a"),
        F.sum("c_all").over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding,
                Window.unboundedFollowing)).alias("n"))
    srcs = vc.groupBy("source").agg(F.sum("c").alias("n_s"))
    w_s = (Window.partitionBy("source").orderBy("v")
           .rowsBetween(Window.unboundedPreceding, 0))
    grid = (F.broadcast(srcs).crossJoin(cum_all)
            .join(vc, ["source", "v"], "left")
            .select("source", "n_s", "v", "cum_a", "n",
                    F.sum(F.coalesce(F.col("c"), F.lit(0)))
                    .over(w_s).alias("cum_s")))
    d = grid.select(
        "source", "n_s", (F.col("n") - F.col("n_s")).alias("n_r"), "v",
        F.abs(F.col("cum_s") * (F.col("n") - F.col("n_s"))
              - (F.col("cum_a") - F.col("cum_s")) * F.col("n_s"))
        .alias("d2"))
    mx = (d.groupBy("source").agg(F.max("d2").alias("mx2"))
          .withColumnRenamed("source", "msource"))
    return (d.join(F.broadcast(mx),
                   (F.col("source") == F.col("msource"))
                   & (F.col("d2") == F.col("mx2")))
            .groupBy("source", "n_s", "n_r", "mx2")
            .agg(F.min("v").cast("bigint").alias("at_value"))
            .select("source",
                    F.col("n_s").cast("bigint").alias("n_source"),
                    F.col("n_r").cast("bigint").alias("n_rest"),
                    F.round(F.col("mx2") / (F.col("n_s") * F.col("n_r")
                                            ).cast("double"), 6)
                    .alias("ks_d"),
                    "at_value"))


# Truncated discrete-Laplace (two-sided geometric) CDF for epsilon=1,
# sensitivity-1 counts, support [-8, 8], quantized to 15 bits:
# floor(P(K <= k) * 32768) for k = -8..7. noise = -8 + #(u >= t).
# The truncation (tail mass ~e^-8 per side) and the quantization are
# part of the mechanism's contract and identical literals in both
# engines, so the draw is bit-exact cross-engine.
_DP_CDF_Q = (5, 18, 56, 158, 435, 1189, 3239, 8811, 23956, 29528,
             31578, 32332, 32609, 32711, 32749, 32762)


def _dp_noise_sql(u: str) -> str:
    terms = " + ".join(
        f"CASE WHEN {u} >= {t} THEN 1 ELSE 0 END" for t in _DP_CDF_Q)
    return f"(-8 + {terms})"


@register(
    "q_dp_noisy_counts",
    oracle=f"""
    WITH g AS (
        SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_true
        FROM documents GROUP BY 1, 2),
    u AS (
        SELECT source, lang, n_true,
               CAST(('0x' || substr(md5('dp|' || source || '|' || lang),
                     1, 4)) AS INTEGER) % 32768 AS u15
        FROM g)
    SELECT source, lang, n_true,
           CAST({_dp_noise_sql('u15')} AS BIGINT) AS noise,
           CAST(n_true + {_dp_noise_sql('u15')} AS BIGINT) AS n_noisy
    FROM u
    """,
    tags=("privacy", "governance", "dp", "sketch-free"),
)
def q_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private release counts: per-(source, lang)
    document counts with two-sided-geometric (discrete Laplace)
    noise at epsilon = 1 — the mechanism behind every DP count
    release (Ghosh-Roughgarden-Sundararajan: the geometric mechanism
    is universally utility-optimal for counts). The noise draw is
    DETERMINISTIC here: a 15-bit uniform extracted from
    md5('dp|source|lang') mapped through the quantized CDF literals
    in _DP_CDF_Q (same table both engines), which makes the
    mechanism fully oracle-checkable; a production release would
    swap the md5 seed for a secret per-release nonce and DROP the
    n_true/noise columns — kept here so the oracle pins the exact
    arithmetic. Truncation at +/-8 (tail mass ~3e-4) is part of the
    declared mechanism, as in bounded-geometric DP deployments.

    Scale shape: one combiner-reduced aggregate, then O(groups)
    pure-expression work — the noise addition costs nothing at any
    scale, the audit twin of q_k_anonymity: that query flags what
    is unsafe to release exactly; this one makes the release safe.
    Reference parity: none; north-star §2D governance depth.
    """
    g = (load_table(spark, sf_dir, "documents")
         .groupBy("source", "lang")
         .agg(F.count(F.lit(1)).alias("n_true")))
    u15 = (F.conv(F.substring(
        F.md5(F.concat(F.lit("dp|"), F.col("source"), F.lit("|"),
                       F.col("lang"))), 1, 4), 16, 10)
        .cast("int") % 32768)
    noise = (F.lit(-8)
             + sum((u15 >= t).cast("int") for t in _DP_CDF_Q))
    return g.select(
        "source", "lang", "n_true",
        noise.cast("bigint").alias("noise"),
        (F.col("n_true") + noise).cast("bigint").alias("n_noisy"))


_JSE_BUCKETS = 16


@register(
    "q_join_size_estimate",
    oracle=f"""
    WITH hc AS (
        SELECT c_custkey AS k, c_custkey % {_JSE_BUCKETS} AS bucket,
               CAST(COUNT(*) AS BIGINT) AS a
        FROM customer GROUP BY 1, 2),
    ho AS (
        SELECT o_custkey AS k, o_custkey % {_JSE_BUCKETS} AS bucket,
               CAST(COUNT(*) AS BIGINT) AS b
        FROM orders GROUP BY 1, 2),
    j AS (
        SELECT hc.bucket, hc.k, hc.a, ho.b
        FROM hc JOIN ho ON ho.k = hc.k),
    act AS (
        SELECT bucket, CAST(SUM(a * b) AS BIGINT) AS actual_rows
        FROM j GROUP BY 1),
    sa AS (SELECT bucket, CAST(SUM(a) AS BIGINT) AS rows_cust,
                  CAST(COUNT(*) AS BIGINT) AS v_cust
           FROM hc GROUP BY 1),
    sb AS (SELECT bucket, CAST(SUM(b) AS BIGINT) AS rows_ord,
                  CAST(COUNT(*) AS BIGINT) AS v_ord
           FROM ho GROUP BY 1)
    SELECT sa.bucket, sa.rows_cust, sb.rows_ord, sa.v_cust, sb.v_ord,
           ROUND(sa.rows_cust * sb.rows_ord * 1.0
                 / GREATEST(sa.v_cust, sb.v_ord), 2) AS est_rows,
           COALESCE(act.actual_rows, 0) AS actual_rows
    FROM sa JOIN sb ON sb.bucket = sa.bucket
    LEFT JOIN act ON act.bucket = sa.bucket
    """,
    tags=("stats", "cbo", "cardinality", "join"),
)
def q_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation, the decision every cost-based
    optimizer makes before picking a join strategy: per key-hash
    bucket, the Selinger uniformity estimate
    |A_b| * |B_b| / max(V(A_b), V(B_b)) for customer JOIN orders ON
    custkey, next to the EXACT answer from the key-histogram product
    sum(a_k * b_k) — so the output IS the estimator's error profile
    (where key-frequency skew breaks the uniformity assumption).
    The cross-table sibling of q_selfjoin_size_stats (the F2
    self-join census): same histogram machinery, two relations.

    Scale shape: the join itself NEVER runs — both sides collapse
    to combiner-reduced per-key histograms (one scan each), the
    exact product joins histograms (|keys| rows, not |A ⋈ B|), and
    bucket rollups are 16 rows. Per-row arithmetic is
    integer except one division per bucket. At 100 TB this is how
    you KNOW the fact-fact join is 10^14 rows before paying for it
    — the ANALYZE-side twin of the CBO plan-flip demo
    (tests/test_cbo_stats.py). Reference parity: none; north-star
    engine-infrastructure depth.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    hc = (cust.groupBy(F.col("c_custkey").alias("k"),
                       (F.col("c_custkey") % _JSE_BUCKETS).alias("bucket"))
          .agg(F.count(F.lit(1)).alias("a")))
    ho = (orders.groupBy(F.col("o_custkey").alias("k2"),
                         (F.col("o_custkey") % _JSE_BUCKETS)
                         .alias("bucket2"))
          .agg(F.count(F.lit(1)).alias("b")))
    act = (hc.join(ho, F.col("k2") == F.col("k"))
           .groupBy("bucket")
           .agg(F.sum(F.col("a") * F.col("b")).alias("actual_rows")))
    sa = (hc.groupBy("bucket")
          .agg(F.sum("a").alias("rows_cust"),
               F.count(F.lit(1)).alias("v_cust")))
    sb = (ho.groupBy(F.col("bucket2").alias("bucket"))
          .agg(F.sum("b").alias("rows_ord"),
               F.count(F.lit(1)).alias("v_ord")))
    return (sa.join(sb, "bucket")
            .join(F.broadcast(act), "bucket", "left")
            .select("bucket", "rows_cust", "rows_ord", "v_cust", "v_ord",
                    F.round(F.col("rows_cust") * F.col("rows_ord")
                            / F.greatest("v_cust", "v_ord")
                            .cast("double"), 2).alias("est_rows"),
                    F.coalesce(F.col("actual_rows"), F.lit(0))
                    .cast("bigint").alias("actual_rows")))


# ONE ANSI SQL text executed verbatim by BOTH engines — the named-
# WINDOW-clause sibling of _PIPELINE_SQL: two named windows sharing a
# partition spec, referenced by RANK and a windowed total.
_NAMED_WINDOW_SQL = """
    WITH g AS (
        SELECT l_returnflag AS rf, l_linestatus AS ls,
               CAST(SUM(l_quantity) AS BIGINT) AS qty
        FROM lineitem GROUP BY 1, 2)
    SELECT rf, ls, qty,
           RANK() OVER w_ord AS qty_rank,
           ROUND(CAST(qty AS DOUBLE) / SUM(qty) OVER w_all, 6)
               AS qty_share
    FROM g
    WINDOW w_ord AS (PARTITION BY rf ORDER BY qty DESC, ls),
           w_all AS (PARTITION BY rf)
"""


@register(
    "q_sql_named_window",
    oracle=_NAMED_WINDOW_SQL,
    tags=("sql-surface", "window", "relational"),
)
def q_sql_named_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-window SQL surface: one ANSI text with a WINDOW clause
    declaring two named windows over a shared partition spec
    (ranking + windowed total), run VERBATIM by ``spark.sql`` and
    as the identical DuckDB oracle string — the same
    parse-parity contract as q_sql_cte_pipeline, extended to the
    WINDOW-clause grammar (the surface ad-hoc analysts reach for
    first when a query has three windows over one spec). Quantities
    are exact integers; the share divides once and rounds.

    Catalyst folds both named windows into one Window operator over
    one rf-keyed exchange (they share the partition spec by
    construction), running over the |rf x ls| aggregate relation —
    group-cardinality-bounded, never over lineitem rows. Reference
    parity: none (no SQL surface in the reference, SURVEY §2C).
    """
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem")
    return spark.sql(_NAMED_WINDOW_SQL)


_BH_PERMS = 32       # sign-flip permutations = bits of one md5 word
_BH_ALPHA_INV = 20   # alpha = 1/20 = 0.05, kept integer for exact BH
_HT_CAP = 20_000     # chars at which inclusion probability hits 1.0
_HT_U = ("(CAST(('0x' || substr(md5('ht|' || CAST(doc_id AS VARCHAR)), "
         "1, 13)) AS UBIGINT) + 0.5) / 4503599627370496.0")


def _bh_sign_sums_sql() -> str:
    """32 sign-flip sums as one aggregate's columns: perm j flips
    doc i's deviation by bit j of its md5 word."""
    return ", ".join(
        f"CAST(SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN d ELSE -d END) "
        f"AS BIGINT) AS p{j}" for j in range(_BH_PERMS))


@register(
    "q_bh_fdr_screen",
    oracle=f"""
    WITH g AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(n_chars) AS BIGINT) AS s
        FROM documents),
    d AS (
        SELECT source,
               g.n * n_chars - g.s AS d,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    AS UBIGINT) AS h
        FROM documents CROSS JOIN g),
    per AS (
        SELECT source,
               CAST(SUM(d) AS BIGINT) AS obs,
               {_bh_sign_sums_sql()}
        FROM d GROUP BY source),
    k AS (
        SELECT source, obs,
               CAST({" + ".join(
                   f"CASE WHEN ABS(p{j}) >= ABS(obs) THEN 1 ELSE 0 END"
                   for j in range(_BH_PERMS))} AS BIGINT) AS k_ge
        FROM per),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM k),
    ranked AS (
        SELECT source, obs, k_ge, m.m,
               ROW_NUMBER() OVER (ORDER BY k_ge, source) AS rnk
        FROM k CROSS JOIN m),
    thr AS (
        SELECT COALESCE(MAX(CASE WHEN {_BH_ALPHA_INV} * k_ge * m
                                      <= {_BH_PERMS} * rnk
                                 THEN rnk END), 0) AS t
        FROM ranked)
    SELECT source, CAST(rnk AS BIGINT) AS rnk, k_ge,
           ROUND(k_ge * 1.0 / {_BH_PERMS}, 6) AS p_perm,
           rnk <= thr.t AS bh_reject
    FROM ranked CROSS JOIN thr
    """,
    tags=("stats", "fdr", "multiple-testing", "permutation"),
)
def q_bh_fdr_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg FDR screen over EXACT permutation
    p-values: for every source, a sign-flip permutation test of
    "does this source's mean doc length differ from the corpus?"
    (32 deterministic md5-bit sign flips of the exact integer
    deviations N*x_i - S), then the BH step-up rule across all
    sources at FDR 0.05 — the multiple-testing correction without
    which a 20-source screen "finds" one spurious drift per run at
    p<0.05. EVERYTHING is integer-exact: deviations, the 32
    signed sums, the comparison counts k (p = k/32), and the BH
    inequality itself, cross-multiplied to 20*k*m <= 32*i so no
    division ever happens — the entire testing pipeline is
    bit-stable across engines and cluster layouts.

    Plan: one 2-scalar global aggregate (broadcast), one scan
    computing 33 conditional sums per source in a SINGLE hash-agg
    (the q_permutation_test wide-aggregate idiom — no 32x row
    explosion), then rank/threshold logic on the |sources|-row
    relation (bounded global window, whitelisted). At 100 TB: two
    scans, map-side partials, O(sources) finishing.
    """
    docs = load_table(spark, sf_dir, "documents")
    g = docs.agg(F.count(F.lit(1)).alias("n"),
                 F.sum("n_chars").alias("s"))
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
               16, 10).cast("long")
    d = (docs.crossJoin(F.broadcast(g))
         .select("source",
                 (F.col("n") * F.col("n_chars") - F.col("s")).alias("d"),
                 h.alias("h")))
    sums = [F.sum("d").alias("obs")]
    for j in range(_BH_PERMS):
        sign = F.when(F.shiftright(F.col("h"), j).bitwiseAND(1) == 1,
                      F.col("d")).otherwise(-F.col("d"))
        sums.append(F.sum(sign).alias(f"p{j}"))
    per = d.groupBy("source").agg(*sums)
    k_ge = sum(
        (F.when(F.abs(F.col(f"p{j}")) >= F.abs(F.col("obs")), 1)
         .otherwise(0) for j in range(_BH_PERMS)),
        start=F.lit(0)).cast("bigint")
    # cache: k is re-read by m, thr, and the final projection; without
    # it each re-derives the wide aggregate and re-scans documents
    # (5 scans observed; 2 with the cache — caller releases)
    k = per.select("source", "obs", k_ge.alias("k_ge")).cache()
    m = k.agg(F.count(F.lit(1)).alias("m"))
    w = Window.orderBy("k_ge", "source")
    ranked = (k.crossJoin(F.broadcast(m))
              .select("source", "k_ge", "m",
                      F.row_number().over(w).cast("bigint").alias("rnk")))
    thr = ranked.agg(F.coalesce(
        F.max(F.when(_BH_ALPHA_INV * F.col("k_ge") * F.col("m")
                     <= _BH_PERMS * F.col("rnk"), F.col("rnk"))),
        F.lit(0)).alias("t"))
    return (ranked.crossJoin(F.broadcast(thr))
            .select("source", "rnk", "k_ge",
                    F.round(F.col("k_ge") * 1.0 / _BH_PERMS, 6)
                    .alias("p_perm"),
                    (F.col("rnk") <= F.col("t")).alias("bh_reject")))


@register(
    "q_ht_estimator",
    oracle=f"""
    WITH p AS (
        SELECT doc_id, n_chars,
               LEAST(GREATEST(n_chars, 1) * 1.0 / {_HT_CAP}, 1.0) AS pi
        FROM documents),
    s AS (
        SELECT n_chars,
               CAST(ROUND(1000000.0 / pi) AS BIGINT) AS w
        FROM p WHERE {_HT_U} < pi),
    est AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_sample,
               CAST(SUM(w) AS BIGINT) AS w_docs,
               CAST(SUM(w * n_chars) AS BIGINT) AS w_chars
        FROM s),
    exact AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS exact_docs,
               CAST(SUM(n_chars) AS BIGINT) AS exact_chars
        FROM documents)
    SELECT n_sample,
           CAST(ROUND(w_docs / 1000000.0, 0) AS BIGINT) AS est_docs,
           exact_docs,
           CAST(ROUND(w_chars / 1000000.0, 0) AS BIGINT) AS est_chars,
           exact_chars,
           ROUND(ABS(w_docs / 1000000.0 - exact_docs)
                 * 1.0 / exact_docs, 6) AS rel_err_docs,
           ROUND(ABS(w_chars / 1000000.0 - exact_chars)
                 * 1.0 / exact_chars, 6) AS rel_err_chars
    FROM est CROSS JOIN exact
    """,
    tags=("sampling", "horvitz-thompson", "unequal-probability", "aqp"),
)
def q_ht_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horvitz–Thompson estimation under size-proportional sampling:
    each document's inclusion probability is pi = min(n_chars /
    20000, 1) — long docs always sampled, short docs rarely — and
    the estimator reweights every sampled row by 1/pi, recovering
    UNBIASED corpus totals from a biased sample (the estimator
    behind every size-stratified data census; uniform-rate AQP is
    q_aqp_estimate). Inclusion draws are the deterministic md5
    52-bit uniform on a dedicated 'ht|' hash stream, so the sample
    is reproducible and INDEPENDENT of every other sampling query's
    stream.

    Exactness: the HT weight is integer-micro-scaled once per row
    (round(1e6/pi) — pi is a per-row closed form, no accumulation),
    so both weighted totals are exact bigint sums and every
    reported number derives from them — the float-sum
    nondeterminism that plagues naive HT implementations at
    cluster scale is designed out, not tolerated.

    Plan: one scan with the filter pushed into it, one 3-scalar
    aggregate over the sample, one 2-scalar exact aggregate, a
    1-row cross join (scalar-subquery shape). At 100 TB this reads
    the corpus twice (or once, if the exact side is served by
    footer statistics) and shuffles six numbers.
    """
    docs = load_table(spark, sf_dir, "documents")
    pi = F.least(F.greatest(F.col("n_chars"), F.lit(1)) * 1.0 / _HT_CAP,
                 F.lit(1.0))
    u = (F.conv(F.substring(F.md5(F.concat(F.lit("ht|"),
                                           F.col("doc_id").cast("string"))),
                            1, 13), 16, 10).cast("long") + 0.5) \
        / 4503599627370496.0
    s = (docs.select("n_chars", pi.alias("pi"), u.alias("u"))
         .where(F.col("u") < F.col("pi"))
         .select("n_chars",
                 F.round(1000000.0 / F.col("pi")).cast("bigint")
                 .alias("w")))
    est = s.agg(F.count(F.lit(1)).alias("n_sample"),
                F.sum("w").alias("w_docs"),
                F.sum(F.col("w") * F.col("n_chars")).alias("w_chars"))
    exact = docs.agg(F.count(F.lit(1)).alias("exact_docs"),
                     F.sum("n_chars").alias("exact_chars"))
    return (est.crossJoin(F.broadcast(exact))
            .select("n_sample",
                    F.round(F.col("w_docs") / 1000000.0, 0).cast("bigint")
                    .alias("est_docs"),
                    "exact_docs",
                    F.round(F.col("w_chars") / 1000000.0, 0).cast("bigint")
                    .alias("est_chars"),
                    "exact_chars",
                    F.round(F.abs(F.col("w_docs") / 1000000.0
                                  - F.col("exact_docs"))
                            * 1.0 / F.col("exact_docs"), 6)
                    .alias("rel_err_docs"),
                    F.round(F.abs(F.col("w_chars") / 1000000.0
                                  - F.col("exact_chars"))
                            * 1.0 / F.col("exact_chars"), 6)
                    .alias("rel_err_chars")))


_PARAM_MIN_QTY = 45
_PARAM_STATUS = "F"

_PARAM_SQL = """
SELECT l_returnflag,
       COUNT(*) AS n_items,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
WHERE l_quantity >= :min_qty AND l_linestatus = :status
GROUP BY l_returnflag
"""


@register(
    "q_parameterized_sql",
    oracle=_PARAM_SQL.replace(":min_qty", str(_PARAM_MIN_QTY))
                     .replace(":status", f"'{_PARAM_STATUS}'"),
    tags=("sql-surface", "parameterized", "relational"),
)
def q_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL (`spark.sql(text, args={...})`) — the
    injection-safe templating surface (Spark 3.4+): the query text
    carries `:min_qty` / `:status` markers and the VALUES travel as
    literals through the parser, never via string concatenation.
    The oracle is the same text with the parameters inlined, so the
    binding itself is what the equality proves.

    Plan-wise the bound literals behave exactly like inline ones:
    both predicates reach the parquet scan as PushedFilters, and at
    100 TB parameter binding additionally enables plan-cache reuse
    across invocations that differ only in parameter values.
    """
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_PARAM_SQL,
                     args={"min_qty": _PARAM_MIN_QTY,
                           "status": _PARAM_STATUS})


_KFOLD_K = 5


@register(
    "q_kfold_stratified",
    oracle=f"""
    WITH a AS (
        SELECT source, n_chars,
               (ROW_NUMBER() OVER (
                    PARTITION BY source
                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1)
               % {_KFOLD_K} AS fold
        FROM documents)
    SELECT fold,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(SUM(n_chars) AS BIGINT) AS tot_chars
    FROM a GROUP BY fold
    """,
    tags=("sampling", "cross-validation", "kfold", "stratified",
          "documents"),
)
def q_kfold_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified k-fold cross-validation assignment (k=5): within
    each source stratum, documents are ordered by md5(doc_id) (a
    deterministic pseudo-random permutation — same trick as
    q_sample_stratified) and dealt round-robin into folds, so every
    source contributes to every fold with counts differing by AT
    MOST ONE (exact stratification, proven per run by
    tests/test_kfold_balance.py) and each document lands in exactly
    one fold (the oracle equality proves the partition property:
    fold doc counts sum to the corpus).

    Why md5 order instead of rand(): re-runs, retries, and both
    engines produce the SAME folds — CV assignment must be
    reproducible or every downstream metric is unrepeatable.

    Scale shape: one window per source stratum (partitioned — never
    a global window) + one fold-keyed combiner-reduced aggregate;
    output is k rows at any corpus size. The fold column itself (not
    this summary) is what a training pipeline joins on — the
    summary is the audit artifact.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id")
    fold = ((F.row_number().over(w) - 1) % _KFOLD_K).alias("fold")
    return (docs.select("source", "n_chars", fold)
            .groupBy("fold")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.count_distinct("source").alias("n_sources"),
                 F.sum("n_chars").alias("tot_chars")))


_PIPE_SQL = """
FROM lineitem
|> WHERE l_shipdate <= DATE '1998-09-02'
|> EXTEND CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_cents
|> AGGREGATE COUNT(*) AS n_items,
             CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
             SUM(price_cents) AS sum_price_cents
   GROUP BY l_returnflag, l_linestatus
|> WHERE n_items > 0
|> SELECT l_returnflag, l_linestatus, n_items, sum_qty,
          CAST(sum_price_cents / 100.0 AS DOUBLE) AS sum_price
"""


@register(
    "q_sql_pipe_syntax",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
           SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) / 100.0
               AS sum_price
    FROM lineitem
    WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    HAVING COUNT(*) > 0
    """,
    tags=("sql", "pipe-syntax", "spark4", "lineitem"),
)
def q_sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL PIPE syntax (Spark 4.0's ``|>`` operator chain, from the
    Google "SQL Has Problems" pipe-syntax proposal): the Q1-shaped
    pricing rollup written as a linear dataflow — FROM |> WHERE |>
    EXTEND |> AGGREGATE .. GROUP BY |> WHERE (post-agg) |> SELECT —
    instead of the inside-out SELECT ordering. Semantically identical
    to the ANSI text the DuckDB oracle runs (DuckDB has no pipe
    syntax — the oracle IS the desugaring proof). Exact-cents
    discipline as q1_pricing_summary.

    Catalyst parses pipes into the same logical plan as the ANSI
    form, so pushdown/codegen are identical — pinning that this is
    pure syntax, not a different engine path.
    """
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_PIPE_SQL)


_IDENT_TABLE = "events"
_IDENT_GROUP = "event_type"


@register(
    "q_identifier_clause",
    oracle=f"""
    SELECT {_IDENT_GROUP} AS group_key,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM {_IDENT_TABLE} GROUP BY 1
    """,
    tags=("sql", "identifier-clause", "parameterized", "spark4"),
)
def q_identifier_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized IDENTIFIERS (Spark 4 ``IDENTIFIER(:param)``):
    the table AND the group-by column arrive as named parameters,
    resolved by the analyzer as identifiers rather than spliced as
    strings — the injection-safe way to template "same rollup, any
    table/column" jobs (string-formatting SQL is how production
    pipelines get hurt; parameter markers could already carry
    VALUES, this closes the identifier half). The oracle runs the
    resolved text verbatim.
    """
    load_table(spark, sf_dir, _IDENT_TABLE) \
        .createOrReplaceTempView(_IDENT_TABLE)
    return spark.sql(
        """
        SELECT IDENTIFIER(:grp) AS group_key,
               COUNT(*) AS n_rows,
               COUNT(DISTINCT user_id) AS n_users
        FROM IDENTIFIER(:tbl) GROUP BY 1
        """,
        args={"tbl": _IDENT_TABLE, "grp": _IDENT_GROUP})
