"""Time-series densification, semi-structured (VARIANT) analytics,
and corpus-law statistics (SURVEY.md §2C/§2D north-star depth).

- ``q_gap_fill_ffill``: per-user hourly scaffold (``sequence`` +
  explode — no driver loop) left-joined to observed hourly averages,
  forward-filled with ``last(..., ignorenulls=True)`` over a
  row-bounded window. The canonical sparse→dense metric-stream
  transform (the reference can only emit observed keys,
  ``mr/worker.go:199-215``; densification needs generate+join).
- ``q_variant_json_stats``: Spark 4 VARIANT path — ``parse_json`` →
  ``variant_get`` typed extraction of ``events.props``, then a plain
  aggregate. VARIANT keeps the JSON shredded in a binary encoding
  (scan-time pushdown-able) instead of re-parsing strings per
  expression.
- ``q_zipf_slope``: OLS fit of ln(freq) on ln(rank) over the corpus
  token frequency table (``regr_slope``/``regr_intercept``/
  ``regr_r2`` — all JVM aggregates). A healthy natural-language
  corpus shows slope ≈ -1 (Zipf's law); ingest drift or synthetic
  spam shifts it — a one-row corpus health probe.
- ``q_gap_log_histogram``: log2-bucketed inter-event-gap histogram
  per event type. Bucket index via ``length(bin(gap))`` (exact
  integer bit-length — NOT ``floor(ln/ln 2)``, whose float rounding
  differs across engines at exact powers of two).

Scale shape (100 TB): gap-fill shuffles once on user_id and the
scaffold explodes array-locally (rows ≈ users × span-hours, never
wider than the densified output itself); VARIANT stats is scan +
one hash agg; Zipf is token-keyed agg → single JVM regression
aggregate (vocabulary-bounded input); the gap histogram is one
user-partitioned window + one tiny agg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from my_mapreduce_spark.functions.text import tokens
from my_mapreduce_spark.io import load_table
from my_mapreduce_spark.registry import register

_HOUR_US = 3_600_000_000

# shared token relation (identical split on both engines)
_TOKENS_CTE = """
    tok AS (
        SELECT UNNEST(list_filter(
            regexp_split_to_array(text, '[^a-z0-9]+'), x -> x <> '')) AS token
        FROM documents)
"""


@register(
    "q_gap_fill_ffill",
    oracle=f"""
    WITH h AS (
        SELECT user_id, epoch_us(ts) // {_HOUR_US} AS hour,
               ((2 * SUM(CAST(ROUND(value * 100) AS BIGINT)) * 100
                 + COUNT(*)) // (2 * COUNT(*))) / 10000.0 AS avg_value
        FROM events GROUP BY 1, 2),
    b AS (SELECT user_id, MIN(hour) AS h0, MAX(hour) AS h1
          FROM h GROUP BY 1),
    s AS (SELECT user_id, UNNEST(generate_series(h0, h1)) AS hour FROM b),
    j AS (SELECT s.user_id, s.hour, h.avg_value
          FROM s LEFT JOIN h USING (user_id, hour))
    SELECT user_id, hour,
           ROUND(LAST_VALUE(avg_value IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
               AS filled_value,
           CAST(avg_value IS NULL AS INT) AS is_gap
    FROM j
    """,
    tags=("timeseries", "window", "pipeline"),
)
def q_gap_fill_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Densify each user's hourly metric series and forward-fill gaps.

    Scaffold = per-user ``sequence(min_hour, max_hour)`` exploded
    array-locally (one row per user in, span-hours rows out — the
    explode never shuffles); observed averages left-join on
    (user, hour); the fill is one user-partitioned running
    ``last(ignorenulls)`` window. Hours are epoch-hour bigints, not
    timestamps, so the oracle compare is type-exact.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy("user_id",
                   F.expr(f"unix_micros(ts) DIV {_HOUR_US}").alias("hour"))
        .agg(F.count(F.lit(1)).alias("_n"),
             F.sum(F.round(F.col("value") * 100).cast("bigint"))
             .alias("_sc"))
        .select("user_id", "hour",
                (F.expr("(2 * _sc * 100 + _n) DIV (2 * _n)") / 10000.0)
                .alias("avg_value"))
    )
    scaffold = (
        hourly.groupBy("user_id")
        .agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
        .select("user_id", F.explode(F.sequence("h0", "h1")).alias("hour"))
    )
    joined = scaffold.join(hourly, ["user_id", "hour"], "left")
    w = (Window.partitionBy("user_id").orderBy("hour")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return joined.select(
        "user_id", "hour",
        F.round(F.last("avg_value", ignorenulls=True).over(w), 4)
            .alias("filled_value"),
        F.col("avg_value").isNull().cast("int").alias("is_gap"),
    )


@register(
    "q_variant_json_stats",
    oracle="""
    SELECT event_type,
           COUNT(k) AS n_with_k,
           MIN(k) AS min_k, MAX(k) AS max_k,
           ROUND(AVG(k), 4) AS avg_k
    FROM (SELECT event_type,
                 CAST(json_extract_string(props, '$.k') AS INT) AS k
          FROM events)
    GROUP BY event_type
    """,
    tags=("variant", "json", "scalar"),
)
def q_variant_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed stats over a semi-structured column via Spark 4 VARIANT.

    ``parse_json`` shreds ``props`` once into the binary VARIANT
    encoding; ``try_variant_get`` extracts ``$.k`` as int (NULL on
    missing/mistyped, matching the oracle's CAST of a missing JSON
    path). One scan, one hash agg — the JSON is never string-parsed
    twice.
    """
    ev = load_table(spark, sf_dir, "events")
    # try_parse_json: NULL on malformed props, matching the oracle's
    # json_extract_string NULL-on-bad-input (parse_json would throw)
    k = F.try_variant_get(F.try_parse_json("props"), "$.k", "int").alias("k")
    return (
        ev.select("event_type", k)
        .groupBy("event_type")
        .agg(F.count("k").alias("n_with_k"),
             F.min("k").alias("min_k"), F.max("k").alias("max_k"),
             F.round(F.avg("k"), 4).alias("avg_k"))
    )


@register(
    "q_zipf_slope",
    oracle=f"""
    WITH {_TOKENS_CTE},
    freq AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
    ranked AS (
        SELECT cnt,
               ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rnk
        FROM freq)
    SELECT COUNT(*) AS n_tokens,
           ROUND(regr_slope(ln(cnt), ln(rnk)), 6) AS zipf_slope,
           ROUND(regr_intercept(ln(cnt), ln(rnk)), 6) AS zipf_intercept,
           ROUND(regr_r2(ln(cnt), ln(rnk)), 6) AS r2
    FROM ranked
    """,
    tags=("text", "stats"),
)
def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus token frequency distribution.

    Token counts are a vocabulary-bounded hash agg; the rank is a
    single window over vocabulary-cardinality rows (bounded by the
    language, not the corpus — the min-count vocabulary
    q_vocab_rank_scalable ranks); the regression is one JVM ``regr_*`` aggregate pass. Slope ≈ -1
    on natural text; drift is an ingest red flag.
    """
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(tokens()).alias("token"))
        .groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    )
    ranked = freq.select(
        "cnt",
        F.row_number().over(
            Window.orderBy(F.desc("cnt"), F.asc("token"))).alias("rnk"))
    y, x = F.log(F.col("cnt")), F.log(F.col("rnk"))
    return ranked.agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.regr_slope(y, x), 6).alias("zipf_slope"),
        F.round(F.regr_intercept(y, x), 6).alias("zipf_intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
    )


@register(
    "q_gap_log_histogram",
    oracle="""
    WITH g AS (
        SELECT event_type,
               epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                   AS gap_us
        FROM events)
    SELECT event_type,
           CAST(length(format('{:b}', gap_us)) AS INT) AS log2_bucket,
           COUNT(*) AS n_gaps,
           ROUND(AVG(gap_us), 2) AS avg_gap_us
    FROM g WHERE gap_us IS NOT NULL AND gap_us > 0
    GROUP BY 1, 2
    """,
    tags=("timeseries", "window", "stats"),
)
def q_gap_log_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event-gap distribution, log2-bucketed, per event type.

    The latency-histogram shape every monitoring pipeline needs: one
    user-partitioned LAG window, then a tiny (type × ~40 buckets)
    agg. Bucket index is the bit length of the µs gap —
    ``length(bin(gap))`` — which is exact integer arithmetic on both
    engines, unlike ``floor(ln(gap)/ln(2))`` whose float rounding
    flips at exact powers of two.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.expr("unix_micros(ts)"), "event_id")
    gaps = ev.select(
        "event_type",
        (F.expr("unix_micros(ts)")
         - F.lag(F.expr("unix_micros(ts)")).over(w)).alias("gap_us"))
    return (
        gaps.where(F.col("gap_us").isNotNull() & (F.col("gap_us") > 0))
        .select("event_type",
                F.length(F.bin("gap_us")).cast("int").alias("log2_bucket"),
                "gap_us")
        .groupBy("event_type", "log2_bucket")
        .agg(F.count(F.lit(1)).alias("n_gaps"),
             F.round(F.avg("gap_us"), 2).alias("avg_gap_us"))
    )


@register(
    "q_seasonal_residuals",
    oracle=f"""
    WITH hourly AS (
        SELECT event_type,
               epoch_us(ts) // {_HOUR_US} AS hour,
               (epoch_us(ts) // {_HOUR_US}) % 24 AS hod,
               COUNT(*) AS cnt
        FROM events GROUP BY 1, 2, 3),
    base AS (
        SELECT event_type, hod,
               AVG(cnt) AS mu, STDDEV_SAMP(cnt) AS sigma
        FROM hourly GROUP BY 1, 2)
    SELECT h.event_type,
           COUNT(*) AS n_hours,
           CAST(SUM(CASE WHEN b.sigma > 0
                          AND ABS(h.cnt - b.mu) > 2 * b.sigma
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
           ROUND(MAX(CASE WHEN b.sigma > 0
                          THEN ABS(h.cnt - b.mu) / b.sigma END), 4)
               AS max_z
    FROM hourly h JOIN base b USING (event_type, hod)
    GROUP BY 1
    """,
    tags=("timeseries", "anomaly", "stats"),
)
def q_seasonal_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline anomaly detection on the event stream.

    Classic two-pass shape: per (type, hour-of-day) seasonal
    baseline (mean/stddev of hourly counts across days), then each
    hourly bucket scored against its own season — the detector that
    does not page on the nightly traffic dip. Two vocabulary-bounded
    aggs + one broadcastable join (type × 24 baseline rows); scales
    as one scan regardless of corpus size.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.select("event_type",
                  F.expr(f"unix_micros(ts) DIV {_HOUR_US}").alias("hour"))
        .groupBy("event_type", "hour")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("hod", F.col("hour") % 24)
    )
    base = (hourly.groupBy("event_type", "hod")
            .agg(F.avg("cnt").alias("mu"),
                 F.stddev_samp("cnt").alias("sigma")))
    z = F.abs(F.col("cnt") - F.col("mu")) / F.col("sigma")
    return (
        hourly.join(F.broadcast(base), ["event_type", "hod"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_hours"),
             F.sum(F.when((F.col("sigma") > 0)
                          & (F.abs(F.col("cnt") - F.col("mu"))
                             > 2 * F.col("sigma")), 1)
                   .otherwise(0)).alias("n_anomalies"),
             F.round(F.max(F.when(F.col("sigma") > 0, z)), 4)
                 .alias("max_z"))
    )


@register(
    "q_hourly_autocorr",
    oracle=f"""
    WITH hourly AS (
        SELECT event_type, epoch_us(ts) // {_HOUR_US} AS hour,
               COUNT(*) AS cnt
        FROM events GROUP BY 1, 2),
    lagged AS (
        SELECT event_type, cnt,
               LAG(cnt) OVER (PARTITION BY event_type ORDER BY hour)
                   AS prev_cnt
        FROM hourly)
    SELECT event_type,
           COUNT(prev_cnt) AS n_pairs,
           ROUND(corr(cnt, prev_cnt), 6) AS lag1_autocorr
    FROM lagged GROUP BY event_type
    """,
    tags=("timeseries", "stats"),
)
def q_hourly_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of hourly event counts per type — the
    one-number seasonality/burstiness probe (≈0 for Poisson arrivals,
    →1 for strongly trending load). One hash agg, one per-type LAG
    window over ~720 rows, one ``corr`` aggregate — all JVM.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.select("event_type",
                  F.expr(f"unix_micros(ts) DIV {_HOUR_US}").alias("hour"))
        .groupBy("event_type", "hour")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("event_type").orderBy("hour")
    lagged = hourly.select("event_type", "cnt",
                           F.lag("cnt").over(w).alias("prev_cnt"))
    return (lagged.groupBy("event_type")
            .agg(F.count("prev_cnt").alias("n_pairs"),
                 F.round(F.corr("cnt", "prev_cnt"), 6)
                     .alias("lag1_autocorr")))


@register(
    "q_gap_fill_interpolate",
    oracle=f"""
    WITH h AS (
        SELECT user_id, epoch_us(ts) // {_HOUR_US} AS hour,
               ((2 * SUM(CAST(ROUND(value * 100) AS BIGINT)) * 100
                 + COUNT(*)) // (2 * COUNT(*))) / 10000.0 AS avg_value
        FROM events GROUP BY 1, 2),
    b AS (SELECT user_id, MIN(hour) AS h0, MAX(hour) AS h1
          FROM h GROUP BY 1),
    s AS (SELECT user_id, UNNEST(generate_series(h0, h1)) AS hour FROM b),
    j AS (SELECT s.user_id, s.hour, h.avg_value
          FROM s LEFT JOIN h USING (user_id, hour)),
    k AS (
        SELECT user_id, hour, avg_value,
               LAST_VALUE(avg_value IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY hour
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS pv,
               LAST_VALUE(CASE WHEN avg_value IS NOT NULL
                               THEN hour END IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY hour
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS ph,
               FIRST_VALUE(avg_value IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY hour
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS nv,
               FIRST_VALUE(CASE WHEN avg_value IS NOT NULL
                                THEN hour END IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY hour
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS nh
        FROM j)
    SELECT user_id, hour,
           CASE
               WHEN avg_value IS NOT NULL
                   THEN CAST(ROUND(avg_value * 10000) AS BIGINT) / 10000.0
               WHEN pv IS NULL
                   THEN CAST(ROUND(nv * 10000) AS BIGINT) / 10000.0
               WHEN nv IS NULL
                   THEN CAST(ROUND(pv * 10000) AS BIGINT) / 10000.0
               ELSE (CAST(ROUND(pv * 10000) AS BIGINT) * (nh - hour)
                     + CAST(ROUND(nv * 10000) AS BIGINT) * (hour - ph))
                    // (nh - ph) / 10000.0
           END AS interp_value,
           CAST(avg_value IS NULL AS INT) AS is_gap
    FROM k
    """,
    tags=("timeseries", "window", "pipeline"),
)
def q_gap_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation across gaps — the two-sided sibling of
    q_gap_fill_ffill (forward fill holds the last value flat;
    interpolation draws the line to the next observation, edges fall
    back to nearest). One user-partitioned sort serves all four
    carried values (prev/next value and hour) via backward-last +
    forward-first IGNORE NULLS windows — same single-shuffle shape
    as q_asof_nearest.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy("user_id",
                   F.expr(f"unix_micros(ts) DIV {_HOUR_US}").alias("hour"))
        .agg(F.count(F.lit(1)).alias("_n"),
             F.sum(F.round(F.col("value") * 100).cast("bigint"))
             .alias("_sc"))
        .select("user_id", "hour",
                (F.expr("(2 * _sc * 100 + _n) DIV (2 * _n)") / 10000.0)
                .alias("avg_value"))
    )
    scaffold = (
        hourly.groupBy("user_id")
        .agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
        .select("user_id", F.explode(F.sequence("h0", "h1")).alias("hour"))
    )
    j = scaffold.join(hourly, ["user_id", "hour"], "left")
    wb = (Window.partitionBy("user_id").orderBy("hour")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wf = (Window.partitionBy("user_id").orderBy("hour")
          .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    obs_hour = F.when(F.col("avg_value").isNotNull(), F.col("hour"))
    k = j.select(
        "user_id", "hour", "avg_value",
        F.last("avg_value", ignorenulls=True).over(wb).alias("pv"),
        F.last(obs_hour, ignorenulls=True).over(wb).alias("ph"),
        F.first("avg_value", ignorenulls=True).over(wf).alias("nv"),
        F.first(obs_hour, ignorenulls=True).over(wf).alias("nh"))
    # fixed-point (1e-4) integer interpolation: double rounding of
    # near-half results diverges between engines (Spark rounds the
    # shortest decimal repr, DuckDB the binary value); exact bigint
    # arithmetic makes the spec deterministic. Values are >= 0 so
    # truncating and flooring division agree.
    p_e4 = F.round(F.col("pv") * 10000).cast("bigint")
    n_e4 = F.round(F.col("nv") * 10000).cast("bigint")
    seg = (p_e4 * (F.col("nh") - F.col("hour"))
           + n_e4 * (F.col("hour") - F.col("ph")))
    # floor(double-division) is exact here: the quotient's distance
    # from an integer is a multiple of 1/gap (>= ~1.4e-3) while the
    # division's representation error is ~1e-10 at this magnitude
    interp_e4 = (
        F.when(F.col("avg_value").isNotNull(),
               F.round(F.col("avg_value") * 10000).cast("bigint"))
        .when(F.col("pv").isNull(), n_e4)
        .when(F.col("nv").isNull(), p_e4)
        .otherwise(F.floor(seg / (F.col("nh") - F.col("ph")))))
    return k.select(
        "user_id", "hour",
        (interp_e4 / F.lit(10000.0)).alias("interp_value"),
        F.col("avg_value").isNull().cast("int").alias("is_gap"))


@register(
    "q_percentile_trend",
    oracle="""
    WITH e AS (
        SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
               value
        FROM events),
    r AS (
        SELECT event_type, day, value,
               ROW_NUMBER() OVER (PARTITION BY event_type, day
                                  ORDER BY value) AS rn,
               COUNT(*) OVER (PARTITION BY event_type, day) AS n
        FROM e)
    SELECT event_type, day,
           CAST(MAX(n) AS BIGINT) AS n_events,
           MAX(CASE WHEN rn = CAST(ceil(0.50 * n) AS BIGINT)
                    THEN value END) AS p50,
           MAX(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT)
                    THEN value END) AS p95,
           MAX(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT)
                    THEN value END) AS p99
    FROM r GROUP BY 1, 2
    """,
    tags=("timeseries", "percentile", "stats"),
)
def q_percentile_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily p50/p95/p99 trend of ``value`` per event type — the
    latency-dashboard staple. Percentiles are NEAREST-RANK
    (``ceil(p·n)``-th order statistic), deliberately not
    interpolated: rank selection is exact integer logic on both
    engines, where interpolation formulas differ in last-ulp float
    arithmetic and flip rounded results (the q_gap_fill_interpolate
    lesson). One rollup-keyed window pass + one hash agg; ties in
    value don't affect the selected value (rank picks a position in
    the sorted multiset).
    """
    ev = load_table(spark, sf_dir, "events")
    e = ev.select("event_type",
                  F.date_format(F.col("ts").cast("date"),
                                "yyyy-MM-dd").alias("day"),
                  "value")
    w = Window.partitionBy("event_type", "day").orderBy("value")
    wc = Window.partitionBy("event_type", "day")
    r = e.select("event_type", "day", "value",
                 F.row_number().over(w).alias("rn"),
                 F.count(F.lit(1)).over(wc).alias("n"))

    def at(p):
        return F.max(F.when(
            F.col("rn") == F.ceil(F.lit(p) * F.col("n")).cast("bigint"),
            F.col("value")))

    return (r.groupBy("event_type", "day")
            .agg(F.max("n").cast("bigint").alias("n_events"),
                 at(0.50).alias("p50"), at(0.95).alias("p95"),
                 at(0.99).alias("p99")))


@register(
    "q_twap_events",
    oracle="""
    WITH x AS (
        SELECT user_id, value, epoch_us(ts) AS t,
               LEAD(epoch_us(ts)) OVER (
                   PARTITION BY user_id
                   ORDER BY epoch_us(ts), event_id) AS t_next
        FROM events),
    iv AS (SELECT user_id, value, t_next - t AS dt
           FROM x WHERE t_next IS NOT NULL)
    SELECT user_id,
           COUNT(*) + 1 AS n_events,
           CAST(SUM(dt) AS BIGINT) AS span_us,
           ROUND(SUM(value * dt) / SUM(dt), 4) AS twap
    FROM iv GROUP BY user_id HAVING SUM(dt) > 0
    """,
    tags=("timeseries", "window", "events", "twap"),
)
def q_twap_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user: each observation is
    weighted by how long it was the CURRENT value (microseconds
    until the user's next event; the final observation carries no
    forward interval and is excluded, as in any tick-to-TWAP
    rollup). The plain arithmetic mean over-weights burst periods;
    TWAP is the standard correction for irregularly sampled series.

    Engine shape: one user-partitioned LEAD window + one hash
    aggregate — a single user-keyed shuffle reused by both (the agg
    arrives pre-partitioned). Weights are exact integer
    microseconds; users whose events all share one timestamp
    (zero span) are excluded on both engines rather than dividing
    by zero. At 100 TB this is the same one-shuffle shape as any
    per-entity sessionization.

    Reference parity: no temporal weighting exists in the reference
    (mr/worker.go sums plain counts); north-star §2D timeseries
    depth.
    """
    ev = load_table(spark, sf_dir, "events") \
        .select("user_id", "event_id", "ts", "value")
    t = F.unix_micros("ts")
    w = Window.partitionBy("user_id").orderBy(t, "event_id")
    x = (ev.select("user_id", "value", t.alias("t"),
                   F.lead(t).over(w).alias("t_next"))
         .where(F.col("t_next").isNotNull())
         .withColumn("dt", F.col("t_next") - F.col("t")))
    return (x.groupBy("user_id")
            .agg((F.count(F.lit(1)) + 1).alias("n_events"),
                 F.sum("dt").alias("span_us"),
                 F.round(F.sum(F.col("value") * F.col("dt"))
                         / F.sum("dt"), 4).alias("twap"))
            .where(F.col("span_us") > 0))


# EWMA decay weights: alpha = 0.5 truncated at 8 taps. Powers of 1/2
# have exact double representations, so the renormalized weighted sum
# is a fixed-order expression both engines evaluate bit-identically.
_EWMA_TAPS = [0.5 ** j for j in range(8)]


def _ewma_expr() -> tuple[str, str]:
    num = " + ".join(
        f"COALESCE(l{j} * {w!r}, 0.0)" if j else f"value * {w!r}"
        for j, w in enumerate(_EWMA_TAPS))
    den = " + ".join(
        f"CASE WHEN l{j} IS NULL THEN 0.0 ELSE {w!r} END" if j
        else f"{_EWMA_TAPS[0]!r}"
        for j, w in enumerate(_EWMA_TAPS))
    return num, den


@register(
    "q_ewma_events",
    oracle="""
    WITH x AS (
        SELECT user_id, value,
               {lags},
               ROW_NUMBER() OVER (
                   PARTITION BY user_id
                   ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n_events
        FROM events)
    SELECT user_id, n_events,
           ROUND(value, 4) AS last_value,
           ROUND(({num}) / ({den}), 6) AS ewma
    FROM x WHERE rn = 1
    """.format(
        lags=", ".join(
            f"LAG(value, {j}) OVER (PARTITION BY user_id "
            f"ORDER BY epoch_us(ts), event_id) AS l{j}"
            for j in range(1, len(_EWMA_TAPS))),
        num=_ewma_expr()[0], den=_ewma_expr()[1]),
    tags=("timeseries", "window", "events", "ewma"),
)
def q_ewma_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average (alpha = 0.5, 8 taps)
    of each user's metric stream, reported at the stream head — the
    denoised "current level" per user.

    The truncated-tap formulation is the scale-correct one: the
    closed-form full-history EWMA needs (1-alpha)^(-i) prefix terms
    that overflow doubles after ~1000 rows, while 8 LAGs are O(1)
    per row, keep the whole computation inside one user-partitioned
    window (a single shuffle), and with alpha = 0.5 the dropped
    tail weighs < 0.4%. Weights are renormalized over the taps that
    exist, so short histories are exact averages of what is there,
    not biased toward zero. Every weight is a power of 1/2 (exact
    in binary), and numerator/denominator are fixed-order
    expressions — not commutative aggregates — so Spark and DuckDB
    produce bit-identical doubles before the final ROUND.

    Reference parity: none (no windowed state in mr/worker.go);
    north-star §2D timeseries depth.
    """
    num_sql, den_sql = _ewma_expr()
    ev = load_table(spark, sf_dir, "events") \
        .select("user_id", "event_id", "ts", "value")
    t = F.unix_micros("ts")
    w = Window.partitionBy("user_id").orderBy(t, "event_id")
    wd = Window.partitionBy("user_id").orderBy(t.desc(),
                                               F.col("event_id").desc())
    wc = Window.partitionBy("user_id")
    x = ev.select(
        "user_id", "value",
        *[F.lag("value", j).over(w).alias(f"l{j}")
          for j in range(1, len(_EWMA_TAPS))],
        F.row_number().over(wd).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n_events"))
    return (x.where(F.col("rn") == 1)
            .select("user_id", "n_events",
                    F.round("value", 4).alias("last_value"),
                    F.expr(f"round(({num_sql}) / ({den_sql}), 6)")
                    .alias("ewma")))


_CUSUM_TOP = 5


@register(
    "q_cusum_changepoint",
    oracle=f"""
    WITH hx AS (
        SELECT date_trunc('hour', ts) AS h,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS t
            FROM hx),
    c AS (
        SELECT h, x,
               ROW_NUMBER() OVER (ORDER BY h) AS i,
               CAST(SUM(x) OVER (ORDER BY h
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s
        FROM hx),
    d AS (
        SELECT strftime(h, '%Y-%m-%d %H:%M') AS hour, x AS n_events,
               CAST(abs(tot.n * s - i * tot.t) AS BIGINT) AS cusum_stat
        FROM c CROSS JOIN tot)
    SELECT hour, n_events, cusum_stat,
           ROW_NUMBER() OVER (ORDER BY cusum_stat DESC, hour) AS rnk
    FROM d QUALIFY rnk <= {_CUSUM_TOP}
    """,
    tags=("timeseries", "changepoint", "cusum", "anomaly"),
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint scan over the hourly event-rate series: for
    each hour i of n, the statistic |n*S_i - i*S_n| — the
    cumulative deviation between observed volume and a perfectly
    uniform rate, scaled by n so it stays EXACT bigint arithmetic
    (the float form |S_i - (i/n)S_n| times n) — and the top-5 hours
    by that statistic, which bracket where the rate most plausibly
    shifted. This is the classic offline CUSUM/changepoint screen a
    pipeline runs over ingest volume before trusting a day's data.

    Engine shape: one hash aggregate to the O(hours) series, one
    1-row scalar broadcast (n, total) crossed back, one cumulative
    window over the hour ordering — GLOBAL by construction but over
    a calendar-bounded relation (720 rows per month of data;
    documented in tools/explain_audit.py's whitelist), then
    TakeOrderedAndProject for the top-5. Nothing row-scale crosses
    a window; every float seam is designed out by the integer
    scaling. Hours are emitted as formatted strings on both engines
    (the date-serialization contract).

    Reference parity: none; north-star §2D timeseries/anomaly
    depth.
    """
    ev = load_table(spark, sf_dir, "events").select("ts")
    hx = (ev.groupBy(F.date_trunc("hour", "ts").alias("h"))
          .agg(F.count(F.lit(1)).alias("x")))
    tot = hx.agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("t"))
    w_cum = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, 0)
    w_i = Window.orderBy("h")
    c = hx.select(
        "h", "x",
        F.row_number().over(w_i).alias("i"),
        F.sum("x").over(w_cum).alias("s"))
    d = (c.crossJoin(F.broadcast(tot))
         .select(F.date_format("h", "yyyy-MM-dd HH:mm").alias("hour"),
                 F.col("x").alias("n_events"),
                 F.abs(F.col("n") * F.col("s") - F.col("i") * F.col("t"))
                 .alias("cusum_stat")))
    w_rank = Window.orderBy(F.col("cusum_stat").desc(), "hour")
    return (d.orderBy(F.col("cusum_stat").desc(), "hour")
            .limit(_CUSUM_TOP)
            .withColumn("rnk", F.row_number().over(w_rank).cast("bigint")))


@register(
    "q_groupwise_ols",
    oracle="""
    WITH b AS (SELECT MIN(epoch_us(ts) // 3600000000) AS h0 FROM events),
    p AS (
        SELECT event_type,
               (epoch_us(ts) // 3600000000) - h0 AS x,
               CAST(ROUND(value * 100) AS BIGINT) AS y
        FROM events CROSS JOIN b),
    m AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(y * y) AS BIGINT) AS syy
        FROM p GROUP BY event_type),
    fit AS (
        SELECT event_type, n,
               CAST(n * sxy - sx * sy AS DOUBLE)
                   / (n * sxx - sx * sx) AS slope_c,
               sx, sy, sxx, sxy, syy
        FROM m WHERE n * sxx - sx * sx <> 0)
    SELECT event_type, n,
           ROUND(slope_c / 100, 6) AS slope_per_hour,
           ROUND((sy - slope_c * sx) / n / 100, 6) AS intercept,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 * CAST(n * sxy - sx * sy AS DOUBLE)
                 / (CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r2
    FROM fit
    """,
    tags=("timeseries", "regression", "stats"),
)
def q_groupwise_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type ordinary least squares of value against time
    (hours since the corpus start): slope, intercept, and R² —
    the grouped trend fit every metrics pipeline runs, computed so
    it is ORACLE-EXACT despite being a floating-point regression:
    x is integer hours, y is integer cents (value has 2-decimal
    ticks; ROUND(value*100) reconstructs them exactly on both
    engines), so all five moment sums are exact bigints, and the
    only float work is the final closed-form divisions — identical
    IEEE expressions on identical integers, no accumulation-order
    seam anywhere (the reason this does NOT use the built-in
    regr_slope/regr_intercept aggregates, whose double partial
    sums are merge-order-dependent).

    Engine shape: one scalar min (driver literal is avoided — the
    1-row bound broadcasts via cross join, the whitelisted
    scalar-subquery shape), one map-side-combined 6-moment hash
    aggregate to O(event_types) rows, then per-row arithmetic.
    This is the canonical "aggregate-of-products" trick: at 100 TB
    a grouped regression costs exactly one pass and one tiny
    shuffle, like any sum. Degenerate groups (all events in one
    hour: zero x-variance) are excluded on both engines.

    Reference parity: none; north-star §2D analytics depth.
    """
    ev = load_table(spark, sf_dir, "events").select("ts", "event_type",
                                                    "value")
    hours = F.expr("unix_micros(ts) DIV 3600000000")
    b = ev.agg(F.min(hours).alias("h0"))
    p = (ev.crossJoin(F.broadcast(b))
         .select("event_type",
                 (hours - F.col("h0")).alias("x"),
                 F.round(F.col("value") * 100).cast("bigint").alias("y")))
    m = (p.groupBy("event_type")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("x").alias("sx"),
              F.sum("y").alias("sy"),
              F.sum(F.col("x") * F.col("x")).alias("sxx"),
              F.sum(F.col("x") * F.col("y")).alias("sxy"),
              F.sum(F.col("y") * F.col("y")).alias("syy")))
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    fit = (m.where(den != 0)
           .withColumn("slope_c", num.cast("double") / den))
    return fit.select(
        "event_type", "n",
        F.round(F.col("slope_c") / 100, 6).alias("slope_per_hour"),
        F.round((F.col("sy") - F.col("slope_c") * F.col("sx"))
                / F.col("n") / 100, 6).alias("intercept"),
        F.round(num.cast("double") * num.cast("double")
                / (den.cast("double")
                   * (F.col("n") * F.col("syy")
                      - F.col("sy") * F.col("sy")).cast("double")), 6)
        .alias("r2"))


@register(
    "q_mann_kendall",
    oracle="""
    WITH d AS (
        SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2),
    p AS (
        SELECT a.event_type,
               CASE WHEN b.c > a.c THEN 1
                    WHEN b.c < a.c THEN -1 ELSE 0 END AS sgn
        FROM d a JOIN d b ON b.event_type = a.event_type
                         AND b.day > a.day),
    s AS (
        SELECT event_type, CAST(SUM(sgn) AS BIGINT) AS s_stat,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM p GROUP BY 1),
    n AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days FROM d
          GROUP BY 1)
    SELECT s.event_type, n.n_days, s.s_stat,
           ROUND(s.s_stat * 2.0 / (n.n_days * (n.n_days - 1)), 6)
               AS kendall_tau
    FROM s JOIN n ON n.event_type = s.event_type
    """,
    tags=("timeseries", "trend", "stats"),
)
def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test per event type over the daily count
    series: S = sum over ordered day pairs (i < j) of
    sign(c_j - c_i), with Kendall's tau-a = 2S / (n(n-1)) as the
    normalized trend strength — the nonparametric monotonic-trend
    detector (no linearity assumption, tie- and outlier-robust)
    that complements q_zipf_slope's OLS and q_cusum_changepoint's
    level-shift detector. S and the pair count are exact integers;
    one final division.

    Scale shape: the corpus collapses to the (type, day) daily
    aggregate FIRST (combiner-reduced; the only corpus-sized pass),
    and the O(n^2) pair comparison runs on the CALENDAR-BOUNDED
    series — 30 days => 435 pairs per type, a month of days at any
    data scale, keyed by type so it shuffles once and never leaves
    the reducer. The textbook formulation IS the plan precisely
    because n is the number of days, not rows. Reference parity:
    none; north-star §2D timeseries depth.
    """
    ev = load_table(spark, sf_dir, "events")
    d = (ev.groupBy("event_type",
                    F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd")
                    .alias("day"))
         .agg(F.count(F.lit(1)).alias("c")))
    b = d.select(F.col("event_type").alias("b_type"),
                 F.col("day").alias("b_day"), F.col("c").alias("b_c"))
    p = d.join(b, (F.col("b_type") == F.col("event_type"))
               & (F.col("b_day") > F.col("day")))
    sgn = (F.when(F.col("b_c") > F.col("c"), 1)
           .when(F.col("b_c") < F.col("c"), -1).otherwise(0))
    s = (p.groupBy("event_type")
         .agg(F.sum(sgn).alias("s_stat"),
              F.count(F.lit(1)).alias("n_pairs")))
    n = d.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_days"))
    return (s.join(F.broadcast(n), "event_type")
            .select("event_type", "n_days",
                    F.col("s_stat").cast("bigint").alias("s_stat"),
                    F.round(F.col("s_stat") * 2.0
                            / (F.col("n_days") * (F.col("n_days") - 1)),
                            6).alias("kendall_tau")))


@register(
    "q_calendar_spine",
    oracle="""
    WITH bounds AS (
        SELECT CAST(MIN(ts) AS DATE) AS d0, CAST(MAX(ts) AS DATE) AS d1
        FROM events),
    spine AS (
        SELECT CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY))
                    AS DATE) AS day
        FROM bounds),
    daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1)
    SELECT strftime(s.day, '%Y-%m-%d') AS day,
           CAST(date_diff('day', DATE '2024-01-01', s.day) % 7
                AS BIGINT) AS weekday_idx,
           date_diff('day', DATE '2024-01-01', s.day) % 7 >= 5
               AS is_weekend,
           COALESCE(d.n, 0) AS n_events,
           d.n IS NULL AS is_gap_day
    FROM spine s LEFT JOIN daily d ON d.day = s.day
    """,
    tags=("timeseries", "calendar", "spine", "dimension"),
)
def q_calendar_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine build + coverage audit: generate EVERY day
    between the corpus's first and last event (whether or not data
    exists for it), attach weekday attributes, and left-join the
    daily event counts so silent gap days surface as explicit rows
    — the date-dimension construction every warehouse needs before
    any day-over-day comparison is trustworthy (a missing ingest
    day otherwise just vanishes from GROUP BY results, which is how
    gaps hide; cf. q_gap_fill_ffill, which repairs value series
    where this repairs the AXIS). Weekday arithmetic is pure
    day-diff math from the Monday anchor 2024-01-01 — no
    engine-specific dow() numbering (Spark counts Sunday=1, DuckDB
    Sunday=0; the anchor-mod-7 form sidesteps the seam).

    Scale shape: bounds are a 2-scalar aggregate; the spine is a
    driver-side sequence of |days| rows (calendar-bounded) joined
    BROADCAST onto the combiner-reduced daily aggregate — the
    corpus is scanned once. At 100 TB the spine is still ~365 rows
    a year. Reference parity: none; north-star warehouse-hygiene
    depth next to q_dq_checks.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(F.col("ts").cast("date").alias("day"))
             .agg(F.count(F.lit(1)).alias("n")))
    bounds = ev.agg(F.min(F.col("ts").cast("date")).alias("d0"),
                    F.max(F.col("ts").cast("date")).alias("d1"))
    spine = bounds.select(
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day"))
    widx = F.datediff(F.col("day"), F.lit("2024-01-01").cast("date")) % 7
    return (spine.join(daily, "day", "left")
            .select(F.date_format("day", "yyyy-MM-dd").alias("day"),
                    widx.cast("bigint").alias("weekday_idx"),
                    (widx >= 5).alias("is_weekend"),
                    F.coalesce(F.col("n"), F.lit(0)).cast("bigint")
                    .alias("n_events"),
                    F.col("n").isNull().alias("is_gap_day")))


_DAY_US = 86_400_000_000
_DECAY_DAYS = 30      # look-back window; weight = 2^-(days_old) halvings
_DECAY_TOP = 20


@register(
    "q_decay_weighted_engagement",
    oracle=f"""
    WITH e AS (
        SELECT user_id,
               CAST(FLOOR(value * 1000) AS BIGINT) AS y,
               CAST(epoch_us(ts) // {_DAY_US} AS BIGINT) AS day
        FROM events
        WHERE NOT isnan(value) AND NOT isinf(value)),
    mx AS (SELECT MAX(day) AS max_day FROM e),
    w AS (
        SELECT user_id, y,
               (CAST(1 AS BIGINT) << CAST({_DECAY_DAYS} - 1
                    - (max_day - day) AS INT)) AS wt
        FROM e CROSS JOIN mx
        WHERE max_day - day < {_DECAY_DAYS}),
    s AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(y * wt) AS BIGINT) AS score_int
        FROM w GROUP BY 1),
    r AS (
        SELECT user_id, n_events, score_int,
               ROW_NUMBER() OVER (ORDER BY score_int DESC, user_id) AS rnk
        FROM s)
    SELECT user_id, n_events,
           ROUND(score_int / {float(2 ** (_DECAY_DAYS - 1))} / 1000.0, 6)
               AS score,
           rnk
    FROM r WHERE rnk <= {_DECAY_TOP}
    """,
    tags=("timeseries", "decay", "feature-store", "engagement"),
)
def q_decay_weighted_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential time-decay engagement score per user (half-life =
    1 day over a 30-day look-back): score = Σ value · 2^−days_old —
    the standard recency-weighted feature-store aggregate (recent
    activity dominates, old activity fades geometrically). Top-20
    users reported with their event counts.

    The decay trick that keeps it EXACT: weights are powers of two,
    values integer-scaled, and each contribution is computed as
    y · 2^(29 − days_old) — a pure BIGINT product — so the per-user
    sum is an exact integer and the ranking orders on bigints,
    never floats (a float Σ y·2^−d has an accumulation order;
    this does not). The single float division happens once per
    OUTPUT row. Scale shape: one scan, a 1-row max-day broadcast
    (whitelisted scalar-subquery shape), one user-keyed
    map-side-combined aggregate, TakeOrderedAndProject top-20.
    Cross-engine exact: tests nothing subtler than integer shifts.
    """
    ev = (load_table(spark, sf_dir, "events")
          .where(~F.isnan("value") & (F.abs("value") != float("inf")))
          .select("user_id",
                  F.floor(F.col("value") * 1000).alias("y"),
                  F.expr(f"unix_micros(ts) DIV {_DAY_US}").alias("day")))
    mx = ev.agg(F.max("day").alias("max_day"))
    w = (ev.crossJoin(F.broadcast(mx))
         .where(F.col("max_day") - F.col("day") < _DECAY_DAYS)
         .select("user_id", "y",
                 F.expr(f"CAST(shiftleft(CAST(1 AS BIGINT), "
                        f"CAST({_DECAY_DAYS} - 1 - (max_day - day) AS INT))"
                        f" AS BIGINT)").alias("wt")))
    s = (w.groupBy("user_id")
         .agg(F.count(F.lit(1)).alias("n_events"),
              F.sum(F.col("y") * F.col("wt")).cast("bigint")
              .alias("score_int")))
    wr = Window.orderBy(F.col("score_int").desc(), "user_id")
    return (s.orderBy(F.col("score_int").desc(), "user_id")
            .limit(_DECAY_TOP)
            .withColumn("rnk", F.row_number().over(wr))
            .select("user_id", "n_events",
                    F.round(F.col("score_int")
                            / float(2 ** (_DECAY_DAYS - 1)) / 1000.0, 6)
                    .alias("score"), "rnk"))


@register(
    "q_theil_sen_slope",
    oracle=f"""
    WITH d AS (
        SELECT event_type,
               CAST(epoch_us(ts) // {_DAY_US} AS BIGINT) AS day,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2),
    p AS (
        SELECT a.event_type,
               (b.c - a.c) * 1.0 / (b.day - a.day) AS slope
        FROM d a JOIN d b
          ON a.event_type = b.event_type AND b.day > a.day)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(quantile_cont(slope, 0.5), 6) AS ts_slope
    FROM p GROUP BY event_type
    """,
    tags=("timeseries", "trend", "robust", "theil-sen"),
)
def q_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend estimator per event type: the MEDIAN
    of all pairwise slopes (c_j − c_i)/(day_j − day_i) over the
    daily count series — the robust complement to q_mann_kendall
    (which TESTS for a trend; this ESTIMATES it, with a 29%
    breakdown point where least squares is broken by one bad day).

    Every slope is one deterministic double from three exact
    bigints, the pair set is identical on both engines, and the
    exact median (linear interpolation at 0.5 on the sorted bounded
    set) matches DuckDB's quantile_cont. Scale shape: the stream
    collapses to the (type, day) relation FIRST (calendar-bounded:
    ~30 rows/type/month), so the pairwise join is days²-bounded per
    type — never events² — and the per-type median runs over that
    bounded set; at any corpus size the cost after the scan is
    O(types · days²). Same boundedness argument as
    q_survival_life_table's duration relation.
    """
    ev = load_table(spark, sf_dir, "events")
    d = (ev.select("event_type",
                   F.expr(f"unix_micros(ts) DIV {_DAY_US}").alias("day"))
         .groupBy("event_type", "day").agg(F.count(F.lit(1)).alias("c")))
    a, b = d.alias("a"), d.alias("b")
    p = (a.join(b, (F.col("a.event_type") == F.col("b.event_type"))
                & (F.col("b.day") > F.col("a.day")))
         .select(F.col("a.event_type").alias("event_type"),
                 ((F.col("b.c") - F.col("a.c")) * 1.0
                  / (F.col("b.day") - F.col("a.day"))).alias("slope")))
    return (p.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.round(F.expr("percentile(slope, 0.5)"), 6)
                 .alias("ts_slope")))


_ANOM_Z = 2.0        # seasonal z-score flag threshold


@register(
    "q_seasonal_anomaly",
    oracle=f"""
    WITH h AS (
        SELECT event_type,
               CAST(epoch_us(ts) // {_HOUR_US} AS BIGINT) AS hour,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2),
    hb AS (SELECT event_type, hour, c, hour % 24 AS hod FROM h),
    base AS (
        SELECT event_type, hod,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(c) AS BIGINT) AS s,
               CAST(SUM(c * c) AS BIGINT) AS ss
        FROM hb GROUP BY 1, 2),
    z AS (
        SELECT hb.event_type, hb.hour, hb.c,
               (hb.c - base.s * 1.0 / base.n)
               / SQRT((base.ss - base.s * (base.s * 1.0 / base.n))
                      * 1.0 / (base.n - 1)) AS z
        FROM hb JOIN base
          ON hb.event_type = base.event_type AND hb.hod = base.hod
        WHERE base.n > 1 AND base.n * base.ss > base.s * base.s)
    SELECT event_type, hour, c AS n_events, ROUND(z, 6) AS z
    FROM z WHERE ABS(z) >= {_ANOM_Z}
    """,
    tags=("timeseries", "anomaly", "seasonal", "monitoring"),
)
def q_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly screen: each (event_type, hour)
    count is z-scored against the baseline of its OWN hour-of-day
    cohort (the 3am spike is judged against other 3am hours, not
    the daily mean — the fix for the false positives a flat
    threshold throws at diurnal traffic), and hours with |z| ≥ 2
    are flagged. Complements q_mad_outliers (value-level robust
    outliers) and q_cusum_changepoint (level shifts) with the
    SEASONAL lens.

    The cohort moments (n, Σc, Σc²) are exact bigints and each z is
    one deterministic double expression of them — bit-stable, the
    q_ab_test_welch discipline. Scale shape: the stream collapses
    to the hour relation first (calendar-bounded), cohort moments
    are a types × 24 relation, and the z join is broadcast-sized;
    output is only the flagged rows. One scan, everything after is
    calendar-bounded.
    """
    ev = load_table(spark, sf_dir, "events")
    h = (ev.select("event_type",
                   F.expr(f"unix_micros(ts) DIV {_HOUR_US}").alias("hour"))
         .groupBy("event_type", "hour").agg(F.count(F.lit(1)).alias("c")))
    hb = h.withColumn("hod", F.col("hour") % 24)
    base = (hb.groupBy("event_type", "hod")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("c").alias("s"),
                 F.sum(F.col("c") * F.col("c")).alias("ss")))
    mean = F.col("s") * 1.0 / F.col("n")
    var = (F.col("ss") - F.col("s") * mean) * 1.0 / (F.col("n") - 1)
    z = (F.col("c") - mean) / F.sqrt(var)
    # filter on the RAW z (like the oracle), round only on output —
    # filtering the rounded value would diverge at the 1.9999996
    # boundary (the ADVICE round-3 divergence class)
    # zero-variance cohorts cannot be z-scored — the exact integer
    # guard n*ss > s*s excludes them on BOTH engines (a float var>0
    # test could disagree at the boundary; ANSI Spark would throw on
    # the division where DuckDB yields inf)
    return (hb.join(F.broadcast(base.where(
                (F.col("n") > 1)
                & (F.col("n") * F.col("ss") > F.col("s") * F.col("s")))),
                    ["event_type", "hod"])
            .select("event_type", "hour",
                    F.col("c").alias("n_events"), z.alias("zraw"))
            .where(F.abs(F.col("zraw")) >= _ANOM_Z)
            .select("event_type", "hour", "n_events",
                    F.round("zraw", 6).alias("z")))


_SAX_BP = 0.6745  # N(0,1) quartile breakpoints: a|b|c|d at -bp, 0, +bp


@register(
    "q_sax_symbols",
    oracle=f"""
    WITH h AS (
        SELECT CAST(epoch_us(ts) // {_DAY_US} AS BIGINT) AS day,
               CAST((epoch_us(ts) // {_HOUR_US}) % 24 AS BIGINT) AS hod,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2),
    spine AS (
        SELECT d.day, g.hod, COALESCE(h.c, 0) AS c
        FROM (SELECT DISTINCT day FROM h) d
        CROSS JOIN (SELECT UNNEST(range(0, 24)) AS hod) g
        LEFT JOIN h ON h.day = d.day AND h.hod = g.hod),
    m AS (
        SELECT day, CAST(SUM(c) AS BIGINT) AS s1,
               CAST(SUM(c * c) AS BIGINT) AS s2
        FROM spine GROUP BY day),
    z AS (
        SELECT spine.day, spine.hod,
               (spine.c - m.s1 / 24.0)
                   / sqrt(GREATEST(m.s2 / 24.0
                                   - (m.s1 / 24.0) * (m.s1 / 24.0), 0))
                   AS zval,
               m.s2 * 24 = m.s1 * m.s1 AS flat
        FROM spine JOIN m USING (day)),
    sym AS (
        SELECT day, hod,
               CASE WHEN flat THEN 'b'
                    WHEN zval < -{_SAX_BP} THEN 'a'
                    WHEN zval < 0 THEN 'b'
                    WHEN zval < {_SAX_BP} THEN 'c'
                    ELSE 'd' END AS s
        FROM z)
    SELECT day, string_agg(s, '' ORDER BY hod) AS sax_word
    FROM sym GROUP BY day
    """,
    tags=("timeseries", "sax", "symbolization", "motif"),
)
def q_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization (Lin et al. 2003) of each day's 24-hour
    event-arrival profile: z-normalize the day's hourly counts and
    map each hour to one of 4 symbols at the N(0,1) quartile
    breakpoints (-0.6745, 0, 0.6745), yielding a 24-char word per
    day — the discretization under which time-series motif
    discovery, anomaly grammars, and whole-series indexing become
    STRING problems (two days with the same word have provably
    close profiles; distinct words lower-bound the distance). A
    constant (flat) day z-normalizes to 0/0 and conventionally maps
    to the all-'b' word, detected by the exact integer test
    24*sum(c^2) == sum(c)^2.

    Exactness: counts are exact bigints; mean/variance enter float
    only in the IDENTICAL closed-form expression on both engines,
    and the 4-way binning compares those identical doubles against
    literal breakpoints — no accumulation seam. Hours with no
    events are restored by a day x 24 spine (the q_calendar_spine
    idiom) so every word has exactly 24 characters.

    Plan: one scan -> (day, hour) hash-agg; the spine join, the
    per-day moment agg, and the word assembly all run on day-
    bounded relations (|days| x 24 rows regardless of data size) —
    at 100 TB the only data-sized work is the first aggregate.
    Word assembly is array-local: sort_array(collect_list) inside
    a 24-row group, never a window.
    """
    ev = load_table(spark, sf_dir, "events")
    h = (ev.select(
            F.expr(f"unix_micros(ts) DIV {_DAY_US}").alias("day"),
            F.expr(f"(unix_micros(ts) DIV {_HOUR_US}) % 24").alias("hod"))
         .groupBy("day", "hod").agg(F.count(F.lit(1)).alias("c")))
    days = h.select("day").distinct()
    hours = F.explode(F.sequence(F.lit(0), F.lit(23))).alias("hod")
    spine = (days.select("day", hours)
             .join(h, ["day", "hod"], "left")
             .select("day", "hod",
                     F.coalesce(F.col("c"), F.lit(0)).alias("c")))
    m = spine.groupBy("day").agg(F.sum("c").alias("s1"),
                                 F.sum(F.col("c") * F.col("c"))
                                 .alias("s2"))
    mean = F.col("s1") / 24.0
    z = (spine.join(F.broadcast(m), "day")
         .select("day", "hod",
                 ((F.col("c") - mean)
                  / F.sqrt(F.greatest(F.col("s2") / 24.0 - mean * mean,
                                      F.lit(0.0)))).alias("zval"),
                 (F.col("s2") * 24 == F.col("s1") * F.col("s1"))
                 .alias("flat")))
    sym = z.select(
        "day", "hod",
        F.when(F.col("flat"), "b")
        .when(F.col("zval") < -_SAX_BP, "a")
        .when(F.col("zval") < 0, "b")
        .when(F.col("zval") < _SAX_BP, "c")
        .otherwise("d").alias("s"))
    return (sym.groupBy("day")
            .agg(F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("hod", "s"))),
                    lambda t: t.s), "").alias("sax_word")))


@register(
    "q_snaive_mase",
    oracle=f"""
    WITH h AS (
        SELECT event_type,
               CAST(epoch_us(ts) // {_HOUR_US} AS BIGINT) AS hour,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2),
    span AS (
        SELECT event_type, MIN(hour) AS h0, MAX(hour) AS h1
        FROM h GROUP BY event_type),
    spine AS (
        SELECT s.event_type, s.h0 + g.i AS hour
        FROM span s, UNNEST(range(0, s.h1 - s.h0 + 1)) AS g(i)),
    f AS (
        SELECT spine.event_type, spine.hour, COALESCE(h.c, 0) AS c
        FROM spine LEFT JOIN h USING (event_type, hour)),
    lagged AS (
        SELECT event_type, hour, c,
               LAG(c, 24) OVER (PARTITION BY event_type ORDER BY hour)
                   AS c24,
               LAG(c, 1) OVER (PARTITION BY event_type ORDER BY hour)
                   AS c1
        FROM f),
    err AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_hours,
               CAST(SUM(ABS(c - c24)) AS BIGINT) AS ae24,
               CAST(SUM(ABS(c - c1)) AS BIGINT) AS ae1
        FROM lagged WHERE c24 IS NOT NULL
        GROUP BY event_type)
    SELECT event_type, n_hours,
           ROUND(ae24 * 1.0 / n_hours, 6) AS mae_snaive,
           ROUND(ae24 * 1.0 / ae1, 6) AS mase
    FROM err
    """,
    tags=("timeseries", "forecast", "eval", "mase"),
)
def q_snaive_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast evaluation: predict each hour's event
    count with the SAME HOUR YESTERDAY (the 24-lag seasonal-naive
    baseline every forecasting benchmark starts from) and score it
    with MASE (Hyndman & Koehler 2006) — the forecast's mean
    absolute error scaled by the 1-lag naive walk's, the
    scale-free skill score that lets load forecasts compare across
    event types with wildly different volumes. MASE < 1 means the
    daily-seasonality forecast beats the random walk — the
    go/no-go gate before any fancier model earns its compute.

    Exactness: counts and both absolute-error sums are exact
    bigints (gap hours restored to true zeros by the per-type hour
    spine, so lags never skip over missing hours); the two ratios
    are final closed forms. The 1-lag window is evaluated over the
    same spine rows where the 24-lag is defined, so numerator and
    denominator cover the identical evaluation window.

    Plan: one scan -> (type, hour) hash-agg; spine, lags, and the
    final aggregate run on type x hours rows (time-bounded, not
    data-bounded) with a per-type window — partitioned by
    event_type, never global. At 100 TB only the first aggregate
    sees the data.
    """
    ev = load_table(spark, sf_dir, "events")
    h = (ev.select("event_type",
                   F.expr(f"unix_micros(ts) DIV {_HOUR_US}").alias("hour"))
         .groupBy("event_type", "hour").agg(F.count(F.lit(1)).alias("c")))
    span = h.groupBy("event_type").agg(F.min("hour").alias("h0"),
                                       F.max("hour").alias("h1"))
    spine = (span.select(
        "event_type",
        F.explode(F.sequence(F.lit(0), F.col("h1") - F.col("h0")))
        .alias("i"), "h0")
        .select("event_type", (F.col("h0") + F.col("i")).alias("hour")))
    f = (spine.join(h, ["event_type", "hour"], "left")
         .select("event_type", "hour",
                 F.coalesce(F.col("c"), F.lit(0)).alias("c")))
    w = Window.partitionBy("event_type").orderBy("hour")
    lagged = f.select(
        "event_type", "c",
        F.lag("c", 24).over(w).alias("c24"),
        F.lag("c", 1).over(w).alias("c1"))
    err = (lagged.where(F.col("c24").isNotNull())
           .groupBy("event_type")
           .agg(F.count(F.lit(1)).alias("n_hours"),
                F.sum(F.abs(F.col("c") - F.col("c24"))).alias("ae24"),
                F.sum(F.abs(F.col("c") - F.col("c1"))).alias("ae1")))
    return err.select(
        "event_type", "n_hours",
        F.round(F.col("ae24") * 1.0 / F.col("n_hours"), 6)
        .alias("mae_snaive"),
        F.round(F.col("ae24") * 1.0 / F.col("ae1"), 6).alias("mase"))


@register(
    "q_holt_linear",
    oracle="""
    WITH RECURSIVE d AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2),
    seq AS (
        SELECT event_type, CAST(y AS DOUBLE) AS y,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY day) AS t,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM d),
    st AS (
        SELECT event_type, t, n, y AS l,
               CAST(0.0 AS DOUBLE) AS b  -- a bare 0.0 types the whole
                                         -- recursion DECIMAL(2,1)
        FROM seq WHERE t = 1
        UNION ALL
        SELECT s.event_type, q.t, s.n,
               0.5 * q.y + 0.5 * (s.l + s.b),
               0.25 * ((0.5 * q.y + 0.5 * (s.l + s.b)) - s.l)
                   + 0.75 * s.b
        FROM st s JOIN seq q
          ON q.event_type = s.event_type AND q.t = s.t + 1)
    SELECT event_type, CAST(n AS BIGINT) AS n_days,
           ROUND(l, 6) AS level,
           ROUND(b, 6) AS trend,
           ROUND(l + b, 6) AS forecast_next
    FROM st WHERE t = n
    """,
    tags=("timeseries", "events", "holt", "smoothing", "forecast"),
)
def q_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear (double-exponential) smoothing over each event
    type's daily count series: level l_t = a*y_t + (1-a)(l_{t-1} +
    b_{t-1}), trend b_t = g*(l_t - l_{t-1}) + (1-g)*b_{t-1}, with
    a = 0.5 and g = 0.25 — both EXACT binary fractions, so every
    multiply is a clean IEEE operation. This is the trend-aware
    sibling of q_ewma_events (which is level-only): the one-step
    forecast l+b extrapolates drift instead of lagging behind it.

    The recursion is a SEQUENTIAL LEFT FOLD — the documented
    determinism class (SCALE.md float rules): Spark ``F.aggregate``
    over the date-sorted per-type array and a DuckDB RECURSIVE CTE
    stepping t -> t+1 execute the identical IEEE sequence from
    identical exact integer inputs, so the oracle matches bit-for-bit
    before the final ROUND(,6). (DuckDB's ``list_reduce`` was
    rejected for the oracle: its struct-lambda updates accumulator
    fields IN SEQUENCE, so a field reading acc.l after l's slot was
    computed sees the NEW value — measured, not guessed; the
    recursive CTE has plain immutable-row semantics.) Initialization
    l_1 = y_1, b_1 = 0 (the fold's identity for 1-day series).

    Engine shape: one partial-combined daily-count aggregate, one
    per-type collect into a days-bounded array (|days| is
    calendar-bounded, never corpus-bounded — the q_pack_sequences
    array-bound argument), and a JVM fold. One shuffle total; at
    100 TB the scan dominates and the fold is O(types x days).
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy("event_type", F.to_date("ts").alias("day"))
             .agg(F.count(F.lit(1)).alias("y")))
    series = (daily.groupBy("event_type")
              .agg(F.array_sort(F.collect_list(F.struct("day", "y")))
                   .alias("s")))
    init = F.struct(
        F.element_at(F.col("s"), 1)["y"].cast("double").alias("l"),
        F.lit(0.0).alias("b"))
    lvl = lambda acc, e: (F.lit(0.5) * e["y"].cast("double")  # noqa: E731
                          + F.lit(0.5) * (acc["l"] + acc["b"]))
    fold = F.aggregate(
        F.slice(F.col("s"), 2, F.greatest(F.size("s") - 1, F.lit(0))),
        init,
        lambda acc, e: F.struct(
            lvl(acc, e).alias("l"),
            (F.lit(0.25) * (lvl(acc, e) - acc["l"])
             + F.lit(0.75) * acc["b"]).alias("b")))
    return series.select(
        "event_type",
        F.size("s").cast("bigint").alias("n_days"),
        F.round(fold["l"], 6).alias("level"),
        F.round(fold["b"], 6).alias("trend"),
        F.round(fold["l"] + fold["b"], 6).alias("forecast_next"))
