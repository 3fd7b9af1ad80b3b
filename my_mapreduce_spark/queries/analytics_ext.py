"""Analytics extensions: exact percentiles, pivot, histogram, and a
salted (skew-resistant) aggregation.

None of these exist in the reference (SURVEY.md §2C); the salted
aggregation is the direct answer to the reference's own worst-case
skew motif — ``mrapps/crash.go:40-43`` funnels the entire corpus
into 4 fixed keys, so at most 4 reducers ever do work. Salting
splits each hot key across ``_N_SALT`` sub-keys for the heavy
partial aggregation and recombines in a second, tiny shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from my_mapreduce_spark.io import load_table
from my_mapreduce_spark.registry import register

_N_SALT = 32


@register(
    "q_percentiles",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
           ROUND(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("aggregate", "percentile", "stats"),
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quartiles of extended price per return flag. Spark's
    ``percentile`` uses the same linear interpolation as DuckDB's
    ``quantile_cont``. At 100 TB the exact form needs a per-group
    sort; swap to ``percentile_approx`` (t-digest, mergeable,
    map-side partial) when error tolerance allows."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.25)"), 4).alias("p25"),
        F.round(F.expr("percentile(l_extendedprice, 0.50)"), 4).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.75)"), 4).alias("p75"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q_pivot_status",
    oracle="""
    SELECT n_name,
           ROUND(SUM(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 4) AS "F",
           ROUND(SUM(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 4) AS "O",
           ROUND(SUM(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 4) AS "P"
    FROM orders
    JOIN customer ON c_custkey = o_custkey
    JOIN nation   ON n_nationkey = c_nationkey
    GROUP BY n_name
    """,
    tags=("aggregate", "pivot"),
)
def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order value per nation pivoted by order status. The pivot
    value list is fixed ('F','O','P') so the schema is static — at
    scale an unlisted pivot would force an extra distinct pass."""
    o = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    na = load_table(spark, sf_dir, "nation")
    return (
        o.join(F.broadcast(cu), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(na), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("n_name")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.round(F.sum("o_totalprice"), 4))
    )


@register(
    "q_histogram",
    oracle="""
    SELECT CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS bucket,
           COUNT(*) AS n,
           ROUND(AVG(o_totalprice), 4) AS avg_price
    FROM orders GROUP BY 1
    """,
    tags=("aggregate", "histogram", "stats"),
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order value (50k-wide buckets).
    One scan, one tiny-key hash agg."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.floor(F.col("o_totalprice") / 50000)
                  .cast("bigint").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.avg("o_totalprice"), 4).alias("avg_price"))
    )


@register(
    "q_skew_salted_agg",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events, SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS sum_value
    FROM events GROUP BY event_type
    """,
    tags=("aggregate", "skew", "salting"),
)
def q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type event counts computed skew-proof: 5 hot keys (the
    reference's fixed-keys-a..d motif at ``mrapps/crash.go:40-43``)
    are salted into 32 sub-keys for the wide partial
    aggregation, then recombined in a second shuffle of only
    |keys| x 32 rows. Same result as the plain group-by, but
    no reducer ever receives a whole hot key's raw rows."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    partial = (
        ev.groupBy("event_type",
                   (F.col("event_id") % _N_SALT).alias("_salt"))
        .agg(F.count(F.lit(1)).alias("c"), F.sum(cents).alias("s")))
    return (
        partial.groupBy("event_type")
        .agg(F.sum("c").alias("n_events"),
             (F.sum("s") / 100.0).alias("sum_value"))
    )


@register(
    "q_stats_agg",
    oracle="""
    SELECT l_returnflag,
           ROUND(stddev_samp(l_quantity), 6)                  AS sd_qty,
           ROUND(var_samp(l_discount), 6)                     AS var_disc,
           ROUND(corr(l_quantity, l_extendedprice), 6)        AS corr_qty_price,
           ROUND(covar_samp(l_quantity, l_extendedprice), 4)  AS cov_qty_price,
           -- DuckDB skewness is the sample-adjusted G1; Spark's is the
           -- population g1 — convert: g1 = G1 * (n-2)/sqrt(n(n-1))
           ROUND(skewness(l_extendedprice)
                 * (COUNT(*) - 2) / sqrt(COUNT(*) * (COUNT(*) - 1.0)), 6)
               AS skew_price
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("aggregate", "stats"),
)
def q_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates per return flag: stddev, variance,
    correlation, covariance, skewness — all algebraic (one-pass,
    map-side partial, mergeable moments), the cheap path at any
    scale."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        F.round(F.var_samp("l_discount"), 6).alias("var_disc"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4)
         .alias("cov_qty_price"),
        F.round(F.skewness("l_extendedprice"), 6).alias("skew_price"),
    )


@register(
    "q_skew_salted_join",
    oracle="""
    SELECT c_mktsegment AS segment,
           COUNT(*) AS n_events,
           SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY 1
    """,
    tags=("join", "skew", "salting"),
)
def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof fact-to-dimension JOIN by salting — the manual
    complement to AQE's runtime skew splitting (which is itself
    exercised in tests/test_aqe_skew_join.py).

    The fact side gets a deterministic salt (event_id % 32); the
    dimension side is replicated once per salt value via a
    posexplode, so the join key becomes (key, salt) and a hot key's
    rows spread over 32 reducers instead of one. The oracle is the
    plain unsalted join — salting is a physical rewrite with
    identical semantics. Use when the skewed key set isn't known in
    advance and the dimension is small enough to replicate; at
    100 TB this caps any single task at 1/32 of the hottest key.
    """
    n_salt = 8
    ev = (load_table(spark, sf_dir, "events")
          .select("user_id", "value",
                  (F.col("event_id") % n_salt).alias("_salt")))
    cust = (load_table(spark, sf_dir, "customer")
            .select("c_custkey", "c_mktsegment",
                    F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
                    .alias("_salt")))
    return (
        ev.join(cust, (ev.user_id == cust.c_custkey)
                & (ev._salt == cust._salt))
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             (F.sum(F.round(F.col("value") * 100).cast("bigint")) / 100.0).alias("sum_value"))
    )


@register(
    "q_cohort_retention",
    oracle="""
    WITH a AS (
        SELECT o_custkey,
               year(o_orderdate) * 12 + month(o_orderdate) AS ym
        FROM orders GROUP BY 1, 2),
    c AS (SELECT o_custkey, MIN(ym) AS cohort_ym FROM a GROUP BY 1),
    sz AS (SELECT cohort_ym, COUNT(*) AS cohort_size FROM c GROUP BY 1)
    SELECT c.cohort_ym,
           a.ym - c.cohort_ym AS month_offset,
           COUNT(*) AS n_active,
           sz.cohort_size,
           ROUND(COUNT(*) * 1.0 / sz.cohort_size, 6) AS retention
    FROM a JOIN c USING (o_custkey) JOIN sz ON c.cohort_ym = sz.cohort_ym
    GROUP BY c.cohort_ym, month_offset, sz.cohort_size
    """,
    tags=("analytics", "cohort", "retention"),
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: customers grouped by first-order month, the
    fraction still ordering N months later. Months are encoded as
    year*12+month ints so offset arithmetic is exact on both
    engines. Two custkey-keyed hash aggs + one co-located join +
    a broadcastable cohort-size dim — linear at any scale."""
    orders = load_table(spark, sf_dir, "orders")
    ym = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("ym")
    a = orders.select("o_custkey", ym).distinct()
    c = a.groupBy("o_custkey").agg(F.min("ym").alias("cohort_ym"))
    sz = c.groupBy("cohort_ym").agg(F.count(F.lit(1)).alias("cohort_size"))
    return (a.join(c, "o_custkey")
            .groupBy("cohort_ym", (F.col("ym") - F.col("cohort_ym")).alias("month_offset"))
            .agg(F.count(F.lit(1)).alias("n_active"))
            .join(F.broadcast(sz), "cohort_ym")
            .select("cohort_ym", "month_offset", "n_active", "cohort_size",
                    F.round(F.col("n_active") / F.col("cohort_size"), 6)
                    .alias("retention")))


@register(
    "q_rfm_segments",
    oracle="""
    WITH rfm AS (
        SELECT o_custkey,
               MAX(o_orderdate)            AS last_order,
               COUNT(*)                    AS frequency,
               ROUND(SUM(o_totalprice), 2) AS monetary
        FROM orders GROUP BY 1),
    b AS (
        SELECT quantile_cont(frequency, 0.25) AS f1,
               quantile_cont(frequency, 0.50) AS f2,
               quantile_cont(frequency, 0.75) AS f3,
               quantile_cont(monetary, 0.25)  AS m1,
               quantile_cont(monetary, 0.50)  AS m2,
               quantile_cont(monetary, 0.75)  AS m3
        FROM rfm)
    SELECT CAST(1 + CAST(frequency > f1 AS INT) + CAST(frequency > f2 AS INT)
                  + CAST(frequency > f3 AS INT) AS BIGINT) AS f_score,
           CAST(1 + CAST(monetary > m1 AS INT) + CAST(monetary > m2 AS INT)
                  + CAST(monetary > m3 AS INT) AS BIGINT) AS m_score,
           COUNT(*) AS n_customers,
           MIN(last_order) AS earliest_last_order
    FROM rfm CROSS JOIN b
    GROUP BY 1, 2
    """,
    tags=("analytics", "rfm", "segmentation"),
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM-style segmentation, scale-correct form: frequency and
    monetary quartile scores per customer, bucketed by comparing
    against exact-percentile boundaries computed once and broadcast
    (1-row relation). The naive ntile(4) over a global ORDER BY
    drags every customer through one task; boundary-compare keeps
    the scan fully parallel and needs only a 6-number broadcast."""
    orders = load_table(spark, sf_dir, "orders")
    rfm = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.round(F.sum("o_totalprice"), 2).alias("monetary"))
    b = rfm.agg(
        F.expr("percentile(frequency, 0.25)").alias("f1"),
        F.expr("percentile(frequency, 0.50)").alias("f2"),
        F.expr("percentile(frequency, 0.75)").alias("f3"),
        F.expr("percentile(monetary, 0.25)").alias("m1"),
        F.expr("percentile(monetary, 0.50)").alias("m2"),
        F.expr("percentile(monetary, 0.75)").alias("m3"))
    score = lambda col, b1, b2, b3: (  # noqa: E731
        F.lit(1)
        + (F.col(col) > F.col(b1)).cast("bigint")
        + (F.col(col) > F.col(b2)).cast("bigint")
        + (F.col(col) > F.col(b3)).cast("bigint"))
    return (rfm.crossJoin(F.broadcast(b))
            .groupBy(score("frequency", "f1", "f2", "f3").alias("f_score"),
                     score("monetary", "m1", "m2", "m3").alias("m_score"))
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.min("last_order").alias("earliest_last_order")))


@register(
    "q_skyline",
    oracle="""
    WITH pts AS (
        SELECT p_retailprice AS price, p_size AS sz,
               COUNT(*) AS n_parts, MIN(p_partkey) AS min_partkey
        FROM part GROUP BY p_retailprice, p_size)
    SELECT ROUND(price, 2) AS price, sz, n_parts, min_partkey
    FROM pts p
    WHERE NOT EXISTS (
        SELECT 1 FROM pts q
        WHERE q.price <= p.price AND q.sz >= p.sz
          AND (q.price < p.price OR q.sz > p.sz))
    """,
    tags=("analytics", "skyline", "pareto"),
)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto skyline of parts: the (cheapest-price, largest-size)
    frontier — every distinct (price, size) point not strictly
    dominated by another (q dominates p iff q is <= on price, >= on
    size, and strictly better on at least one).

    Distributed shape, the textbook two-phase skyline: (1) collapse
    to DISTINCT value points (hash agg, also carries n_parts /
    min_partkey back to the caller); (2) LOCAL skyline per partition
    with one vectorized numpy sort+running-max pass — a point
    survives iff its size beats the max size over all
    cheaper-or-equal points seen before it in (price asc, size desc)
    order; (3) GLOBAL skyline of the surviving union with the same
    algorithm. Phase 2 discards everything dominated within its
    partition, so phase 3's input is at most (n_partitions x local
    skyline) rows — for a 2-D frontier that's O(partitions * log n)
    expected on value-diverse data, which is why the final pass is a
    legitimately tiny single task at any corpus size (same documented
    -bound posture as the min-count vocabulary q_vocab_rank_scalable
    ranks).

    The oracle is the DEFINITION (NOT EXISTS dominance), not the
    sweep — the two agreeing is evidence the sweep is right.
    """
    import numpy as np
    import pandas as pd

    def local_skyline(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            # sort by (price asc, size desc); survivor iff size beats
            # the running max of all previously-seen (=> cheaper or
            # same-price-bigger) points
            order = np.lexsort((-pdf["sz"].to_numpy(),
                                pdf["price"].to_numpy()))
            s = pdf.iloc[order]
            sz = s["sz"].to_numpy()
            run = np.maximum.accumulate(sz)
            keep = np.empty(len(sz), dtype=bool)
            keep[0] = True
            keep[1:] = sz[1:] > run[:-1]
            yield s[keep]

    pts = (load_table(spark, sf_dir, "part")
           .groupBy(F.col("p_retailprice").alias("price"),
                    F.col("p_size").alias("sz"))
           .agg(F.count("*").alias("n_parts"),
                F.min("p_partkey").alias("min_partkey")))
    schema = "price double, sz int, n_parts long, min_partkey long"
    local = pts.mapInPandas(local_skyline, schema=schema)
    # global pass over the (tiny) union of local frontiers
    final = local.repartition(1).mapInPandas(local_skyline, schema=schema)
    return final.select(F.round("price", 2).alias("price"),
                        "sz", "n_parts", "min_partkey")


# Wilson score: z for a 95% lower confidence bound. The whole bound
# is one fixed-order scalar expression over (k, n), so both engines
# evaluate it bit-identically before the final ROUND.
_WILSON_Z = 1.96


def _wilson_sql(k: str, n: str) -> str:
    z2 = f"({_WILSON_Z} * {_WILSON_Z})"
    p = f"(CAST({k} AS DOUBLE) / {n})"
    return (f"(({p} + {z2} / (2.0 * {n})"
            f" - {_WILSON_Z} * SQRT(({p} * (1.0 - {p})"
            f" + {z2} / (4.0 * {n})) / {n}))"
            f" / (1.0 + {z2} / {n}))")


@register(
    "q_wilson_ctr",
    oracle=f"""
    WITH h AS (
        SELECT CAST(hour(ts) AS INT) AS hour_of_day,
               COUNT(*) AS n_events,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases
        FROM events GROUP BY 1)
    SELECT hour_of_day, n_events, n_purchases,
           ROUND(CAST(n_purchases AS DOUBLE) / n_events, 6) AS p_hat,
           ROUND({_wilson_sql("n_purchases", "n_events")}, 6)
               AS wilson_lb
    FROM h
    ORDER BY wilson_lb DESC, hour_of_day
    """,
    tags=("stats", "ranking", "events", "wilson"),
)
def q_wilson_ctr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase-rate league table per hour of day, ranked by the
    WILSON 95% lower confidence bound instead of the raw rate — the
    standard fix for "sort by average" rankings where small-sample
    groups with a lucky streak outrank well-measured ones. A group's
    bound rises toward its observed rate only as evidence
    accumulates, so thin hours sink.

    Engine shape: one hash aggregate to 24 rows, then pure scalar
    math — the ranking expression is a single fixed-order formula
    shared verbatim with the oracle (bit-identical doubles before
    ROUND). At 100 TB it is one map-side-combined aggregate over the
    scan; the league table itself is O(distinct key) rows.

    Reference parity: none (the reference has no scalar-expression
    layer at all); north-star §2C scalar-function depth applied to a
    ranking idiom.
    """
    ev = load_table(spark, sf_dir, "events").select("ts", "event_type")
    h = (ev.groupBy(F.hour("ts").cast("int").alias("hour_of_day"))
         .agg(F.count(F.lit(1)).alias("n_events"),
              F.sum(F.when(F.col("event_type") == "purchase", 1)
                    .otherwise(0)).cast("bigint").alias("n_purchases")))
    wilson = _wilson_sql("n_purchases", "n_events")
    return (h.select(
        "hour_of_day", "n_events", "n_purchases",
        F.expr("round(CAST(n_purchases AS DOUBLE) / n_events, 6)")
            .alias("p_hat"),
        F.expr(f"round({wilson}, 6)").alias("wilson_lb"))
        .orderBy(F.col("wilson_lb").desc(), "hour_of_day"))


_SURV_GAP_US = 1800 * 1_000_000   # session split: 30 min inactivity
_SURV_MIN_US = 60 * 1_000_000     # life-table granularity: minutes


@register(
    "q_survival_life_table",
    oracle=f"""
    WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events),
    g AS (
        SELECT user_id, t,
               CASE WHEN LAG(t) OVER w IS NULL
                         OR t - LAG(t) OVER w > {_SURV_GAP_US}
                    THEN 1 ELSE 0 END AS ns
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
    s AS (
        SELECT user_id, t,
               SUM(ns) OVER (PARTITION BY user_id ORDER BY t
                             ROWS UNBOUNDED PRECEDING) AS sid
        FROM g),
    mx AS (SELECT MAX(t) AS corpus_end FROM e),
    lt AS (
        SELECT (MAX(s.t) - MIN(s.t)) // {_SURV_MIN_US} AS dur_min,
               CASE WHEN MAX(s.t) < mx.corpus_end - {_SURV_GAP_US}
                    THEN 1 ELSE 0 END AS ended
        FROM s CROSS JOIN mx
        GROUP BY s.user_id, s.sid, mx.corpus_end),
    byd AS (
        SELECT dur_min AS minute,
               CAST(SUM(ended) AS BIGINT) AS n_ended,
               CAST(SUM(1 - ended) AS BIGINT) AS n_censored
        FROM lt GROUP BY 1),
    risk AS (
        SELECT minute, n_ended, n_censored,
               SUM(n_ended + n_censored) OVER (
                   ORDER BY minute DESC ROWS UNBOUNDED PRECEDING)
                   AS n_at_risk
        FROM byd)
    SELECT CAST(minute AS BIGINT) AS minute,
           CAST(n_at_risk AS BIGINT) AS n_at_risk, n_ended, n_censored,
           ROUND(n_ended * 1.0 / n_at_risk, 6) AS hazard
    FROM risk
    """,
    tags=("analytics", "survival", "sessions", "stats"),
)
def q_survival_life_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier-style life table of SESSION durations: sessions
    are 30-min-inactivity episodes per user, a session's lifetime is
    last-minus-first event in whole minutes, and sessions whose last
    event falls within one gap width of the corpus end are CENSORED
    (they may still be open — dropping them is the classic
    duration-analysis bias, truncating them deflates long sessions).
    Per duration minute: the at-risk count (sessions lasting at
    least that long), completed-session exits, censored exits, and
    the discrete hazard d/n_at_risk — the probability a session
    ends at minute k given it reached k. The KM survival curve is
    the running product of (1 - hazard); the table ships exact
    integers and ONE final division so the cross-engine contract
    stays bit-stable (a float product chain would not).

    Scale shape: sessionization is one user-partitioned window (the
    same shape as q_streaming_sessionize's batch oracle), the
    session collapse is a combiner-reduced (user, session) agg, the
    corpus-end scalar is a 1-row broadcast, and the at-risk suffix
    sum runs over the DURATION-MINUTE relation (gap-bounded: at
    most gap-width/granularity + tail rows, independent of corpus
    size). At 100 TB: one scan + one user shuffle — survival
    analytics on full traffic. Reference parity: none; north-star
    §2D analytics depth next to q_cohort_retention (calendar
    cohorts; this is relative-duration with censoring).
    """
    return _survival_risk(spark, sf_dir).select(
        "minute", "n_at_risk", "n_ended", "n_censored",
        F.round(F.col("n_ended")
                / F.col("n_at_risk").cast("double"), 6)
        .alias("hazard"))


def _survival_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared risk table (minute, n_at_risk, n_ended, n_censored) of
    session durations — the life table's and the KM estimator's
    common core. All integers; the at-risk suffix sum runs over the
    gap-bounded duration-minute relation."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select("user_id", F.unix_micros("ts").alias("t"))
    w_u = Window.partitionBy("user_id").orderBy("t")
    g = e.withColumn(
        "ns",
        F.when(F.lag("t").over(w_u).isNull()
               | (F.col("t") - F.lag("t").over(w_u) > _SURV_GAP_US), 1)
        .otherwise(0))
    s = g.withColumn(
        "sid", F.sum("ns").over(
            w_u.rowsBetween(Window.unboundedPreceding, 0)))
    mx = e.agg(F.max("t").alias("corpus_end"))
    lt = (s.crossJoin(F.broadcast(mx))
          .groupBy("user_id", "sid", "corpus_end")
          .agg(F.min("t").alias("t0"), F.max("t").alias("t1"))
          .select(
              F.expr(f"(t1 - t0) DIV {_SURV_MIN_US}").alias("dur_min"),
              F.when(F.col("t1") < F.col("corpus_end") - _SURV_GAP_US, 1)
              .otherwise(0).alias("ended")))
    byd = (lt.groupBy(F.col("dur_min").alias("minute"))
           .agg(F.sum("ended").alias("n_ended"),
                F.sum(1 - F.col("ended")).alias("n_censored")))
    w = (Window.orderBy(F.col("minute").desc())
         .rowsBetween(Window.unboundedPreceding, 0))
    return (byd.withColumn(
        "n_at_risk",
        F.sum(F.col("n_ended") + F.col("n_censored")).over(w))
        .select(F.col("minute").cast("bigint").alias("minute"),
                F.col("n_at_risk").cast("bigint").alias("n_at_risk"),
                F.col("n_ended").cast("bigint").alias("n_ended"),
                F.col("n_censored").cast("bigint").alias("n_censored")))


_SURV_RISK_CTES = f"""e AS (SELECT user_id, epoch_us(ts) AS t FROM events),
    g AS (
        SELECT user_id, t,
               CASE WHEN LAG(t) OVER w IS NULL
                         OR t - LAG(t) OVER w > {_SURV_GAP_US}
                    THEN 1 ELSE 0 END AS ns
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
    s AS (
        SELECT user_id, t,
               SUM(ns) OVER (PARTITION BY user_id ORDER BY t
                             ROWS UNBOUNDED PRECEDING) AS sid
        FROM g),
    mx AS (SELECT MAX(t) AS corpus_end FROM e),
    lt AS (
        SELECT (MAX(s.t) - MIN(s.t)) // {_SURV_MIN_US} AS dur_min,
               CASE WHEN MAX(s.t) < mx.corpus_end - {_SURV_GAP_US}
                    THEN 1 ELSE 0 END AS ended
        FROM s CROSS JOIN mx
        GROUP BY s.user_id, s.sid, mx.corpus_end),
    byd AS (
        SELECT dur_min AS minute,
               CAST(SUM(ended) AS BIGINT) AS n_ended,
               CAST(SUM(1 - ended) AS BIGINT) AS n_censored
        FROM lt GROUP BY 1),
    risk AS (
        SELECT minute, n_ended, n_censored,
               SUM(n_ended + n_censored) OVER (
                   ORDER BY minute DESC ROWS UNBOUNDED PRECEDING)
                   AS n_at_risk
        FROM byd)"""


@register(
    "q_kaplan_meier",
    oracle=f"""
    WITH {_SURV_RISK_CTES},
    km AS (
        SELECT minute, n_at_risk, n_ended, n_censored,
               SUM(CASE WHEN n_ended > 0 AND n_ended < n_at_risk
                        THEN ln((n_at_risk - n_ended) * 1.0 / n_at_risk)
                        ELSE 0.0 END) OVER (
                   ORDER BY minute ASC ROWS UNBOUNDED PRECEDING)
                   AS log_s,
               MAX(CASE WHEN n_ended = n_at_risk AND n_ended > 0
                        THEN 1 ELSE 0 END) OVER (
                   ORDER BY minute ASC ROWS UNBOUNDED PRECEDING)
                   AS hit_zero
        FROM risk)
    SELECT CAST(minute AS BIGINT) AS minute,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           n_ended, n_censored,
           CASE WHEN hit_zero = 1 THEN 0.0
                ELSE ROUND(exp(log_s), 6) END AS survival
    FROM km
    """,
    tags=("analytics", "survival", "kaplan-meier", "sessions", "stats"),
)
def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Kaplan-Meier product-limit SURVIVAL CURVE over the session
    durations — the running product S(k) = prod_{j <= k, d_j > 0}
    (1 - d_j / n_j) the life table (q_survival_life_table) ships the
    factors for. Censored sessions leave the risk set without
    contributing a factor — the estimator's whole point vs naive
    completion rates.

    Float discipline: a literal float PRODUCT chain is
    order-sensitive, so the curve is computed as exp of the RUNNING
    ORDERED SUM of ln((n-d)/n) terms — each term an IEEE ln of the
    same exact-integer ratio on both engines, the prefix sum walks
    the identical minute-ascending sequence on both engines
    (sequential left fold, the q_holt_linear determinism class), and
    exp of identical doubles is identical before the final ROUND(,6).

    Engine shape: the shared _survival_risk core (one user window +
    one combiner-reduced session agg + the gap-bounded risk suffix
    sum) plus one more prefix sum over the SAME gap-bounded minute
    relation — both unpartitioned windows ride inputs bounded by
    gap-width/granularity, never by corpus size (the life table's
    documented bound).
    """
    risk = _survival_risk(spark, sf_dir)
    term = F.when(
        (F.col("n_ended") > 0) & (F.col("n_ended") < F.col("n_at_risk")),
        F.log((F.col("n_at_risk") - F.col("n_ended")) * 1.0
              / F.col("n_at_risk"))).otherwise(F.lit(0.0))
    # the terminal minute can exhaust the whole risk set (d = n):
    # S hits exactly 0 there and stays 0 — flagged instead of ln(0)
    zero = F.when((F.col("n_ended") == F.col("n_at_risk"))
                  & (F.col("n_ended") > 0), 1).otherwise(0)
    w = (Window.orderBy(F.col("minute").asc())
         .rowsBetween(Window.unboundedPreceding, 0))
    return (risk.withColumn("log_s", F.sum(term).over(w))
            .withColumn("hit_zero", F.max(zero).over(w))
            .select("minute", "n_at_risk", "n_ended", "n_censored",
                    F.when(F.col("hit_zero") == 1, F.lit(0.0))
                    .otherwise(F.round(F.exp("log_s"), 6))
                    .alias("survival")))
