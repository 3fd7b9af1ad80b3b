"""Time-window operators over ``events`` in batch form.

The reference has no streaming/window capability (SURVEY.md §2C);
these are the north-star stream operators expressed as batch
queries so they are DuckDB-checkable. The true Structured Streaming
twin (same tumbling aggregation, watermark, availableNow trigger)
lives in streaming/jobs.py and registers as ``q_streaming_hourly``.

All timestamps cross the oracle boundary as epoch MICROseconds or
formatted strings (DuckDB truncates the nanos parquet column to µs;
Spark matches via integer DIV — see io.load_table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from my_mapreduce_spark.io import load_table
from my_mapreduce_spark.registry import register

_SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min


@register(
    "q_events_sliding_window",
    oracle="""
    WITH grid AS (
        SELECT event_type, value,
               (epoch_us(ts) // 1000000 // 1800) * 1800 AS w0
        FROM events),
    expanded AS (
        SELECT event_type, value, w0 AS win_start FROM grid
        UNION ALL
        SELECT event_type, value, w0 - 1800 FROM grid)
    SELECT strftime(to_timestamp(win_start), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS sum_value
    FROM expanded
    GROUP BY 1, 2
    """,
    tags=("events", "window", "sliding"),
)
def q_events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 minutes (each event lands in
    exactly 2 windows). Spark's ``window()`` generator does the
    expansion; the oracle replicates it as a union of two
    grid-aligned tumbling assignments."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             (F.sum(F.round(F.col("value") * 100).cast("bigint")) / 100.0).alias("sum_value"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
                "event_type", "n_events", "sum_value")
    )


@register(
    "q_events_session_window",
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_id, value, epoch_us(ts) AS ts_us FROM events),
    flagged AS (
        SELECT *,
               CASE WHEN ts_us - LAG(ts_us) OVER w > {_SESSION_GAP_US}
                     OR LAG(ts_us) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
    numbered AS (
        SELECT *,
               CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        FROM flagged)
    SELECT user_id, session_seq,
           MIN(ts_us) AS session_start_us,
           MAX(ts_us) AS session_end_us,
           COUNT(*) AS n_events,
           SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS sum_value
    FROM numbered
    GROUP BY user_id, session_seq
    """,
    tags=("events", "window", "session"),
)
def q_events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 30-minute inactivity gap, as the
    classic gaps-and-islands computation (lag → new-session flag →
    running sum → group). Partitioned by user_id — the shuffle key
    is the session key, so this scales like any keyed aggregation.

    Structured Streaming expresses the same thing with
    ``session_window(ts, '30 minutes')``; the batch form is used
    here so DuckDB can check it exactly.
    """
    ev = load_table(spark, sf_dir, "events")
    ts_us = F.expr("ts_ns DIV 1000")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    flagged = (
        ev.select("user_id", "event_id", "value", ts_us.alias("ts_us"))
        .withColumn(
            "new_session",
            F.when(F.lag("ts_us").over(w).isNull()
                   | (F.col("ts_us") - F.lag("ts_us").over(w) > _SESSION_GAP_US), 1)
            .otherwise(0))
    )
    numbered = flagged.withColumn(
        "session_seq",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    return (
        numbered.groupBy("user_id", "session_seq")
        .agg(F.min("ts_us").alias("session_start_us"),
             F.max("ts_us").alias("session_end_us"),
             F.count(F.lit(1)).alias("n_events"),
             (F.sum(F.round(F.col("value") * 100).cast("bigint")) / 100.0).alias("sum_value"))
    )


_CONC_HOLD_US = 30 * 60 * 1_000_000  # each event holds a slot for 30 min


@register(
    "q_max_concurrent",
    oracle=f"""
    WITH b AS (
        SELECT event_type, epoch_us(ts) AS bts, 1 AS delta, event_id
        FROM events
        UNION ALL
        SELECT event_type, epoch_us(ts) + {_CONC_HOLD_US}, -1, event_id
        FROM events),
    swept AS (
        SELECT event_type, bts, delta,
               SUM(delta) OVER (PARTITION BY event_type
                                ORDER BY bts, delta, event_id
                                ROWS UNBOUNDED PRECEDING) AS run
        FROM b),
    mx AS (
        SELECT event_type, MAX(run) AS max_concurrent FROM swept
        GROUP BY event_type)
    SELECT swept.event_type,
           CAST(mx.max_concurrent AS BIGINT) AS max_concurrent,
           MIN(swept.bts) AS peak_at_us
    FROM swept JOIN mx ON mx.event_type = swept.event_type
                      AND swept.run = mx.max_concurrent
    GROUP BY swept.event_type, mx.max_concurrent
    """,
    tags=("events", "sweep-line", "concurrency"),
)
def q_max_concurrent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per event type via the sweep line: each
    event holds a slot for 30 min, boundaries (+1 at start, -1 at
    end, ends-before-starts on ties via delta ordering) are sorted
    and prefix-summed; the maximum of the running sum is the peak
    concurrent load, reported with its first onset time. The
    capacity-planning query behind "how many sessions were open at
    once?" — not expressible as a grouped aggregate because
    concurrency is a property of the ORDERED boundary stream.

    The sweep is a per-type window (running sum over an unbounded-
    preceding row frame) — sequential per key, parallel across
    keys, the inherent shape of prefix sums. For a SINGLE global
    key at 100 TB the same two-level range-partitioned prefix-sum
    trick as q_pack_sequences / q_vocab_rank_scalable applies; the
    per-type form here stays one shuffle + one linear pass.
    """
    ev = load_table(spark, sf_dir, "events")
    starts = ev.select("event_type", F.unix_micros("ts").alias("bts"),
                       F.lit(1).alias("delta"), "event_id")
    ends = ev.select("event_type",
                     (F.unix_micros("ts") + _CONC_HOLD_US).alias("bts"),
                     F.lit(-1).alias("delta"), "event_id")
    b = starts.unionAll(ends)
    w = (Window.partitionBy("event_type").orderBy("bts", "delta", "event_id")
         .rowsBetween(Window.unboundedPreceding, 0))
    swept = b.withColumn("run", F.sum("delta").over(w)).alias("s")
    mx = (swept.groupBy("event_type")
          .agg(F.max("run").cast("long").alias("max_concurrent"))
          .withColumnRenamed("event_type", "mx_type").alias("m"))
    return (swept.join(F.broadcast(mx),
                       (F.col("s.event_type") == F.col("m.mx_type"))
                       & (F.col("s.run") == F.col("m.max_concurrent")))
            .groupBy("s.event_type", "m.max_concurrent")
            .agg(F.min("s.bts").alias("peak_at_us"))
            .select("event_type", "max_concurrent", "peak_at_us"))


_PATH_TOP = 15


@register(
    "q_event_paths",
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
        FROM events),
    seq AS (
        SELECT user_id, event_type,
               LEAD(event_type, 1) OVER w AS e2,
               LEAD(event_type, 2) OVER w AS e3
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
    paths AS (
        SELECT event_type || '>' || e2 || '>' || e3 AS path
        FROM seq WHERE e3 IS NOT NULL),
    counted AS (
        SELECT path, COUNT(*) AS n_occurrences FROM paths GROUP BY path),
    ranked AS (
        SELECT path, n_occurrences,
               ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, path) AS rnk
        FROM counted)
    SELECT path, n_occurrences, rnk FROM ranked WHERE rnk <= {_PATH_TOP}
    """,
    tags=("events", "sequence", "window"),
)
def q_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 3-step event-type paths across all users — the
    sequential-pattern census behind funnel design ('what do users
    actually do around a purchase?'). One user-partitioned window
    pass (two LEADs), a path-keyed hash agg over at most
    |event_types|³ keys, and a sort+limit; nothing quadratic, no
    self-joins on the event table.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros("ts"), "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"))
    counted = (seq.where(F.col("e3").isNotNull())
               .select(F.concat_ws(">", "event_type", "e2", "e3")
                       .alias("path"))
               .groupBy("path").agg(F.count(F.lit(1))
                                    .alias("n_occurrences")))
    wr = Window.orderBy(F.col("n_occurrences").desc(), "path")
    return (counted.orderBy(F.col("n_occurrences").desc(), "path")
            .limit(_PATH_TOP)
            .withColumn("rnk", F.row_number().over(wr)))


@register(
    "q_audience_overlap",
    oracle="""
    WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
    sz AS (SELECT event_type, COUNT(*) AS n FROM tu GROUP BY 1),
    ov AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               COUNT(*) AS n_both
        FROM tu a JOIN tu b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2)
    SELECT type_a, type_b, n_both,
           ROUND(n_both * 1.0 / (x.n + y.n - n_both), 6) AS jaccard
    FROM ov JOIN sz x ON type_a = x.event_type
            JOIN sz y ON type_b = y.event_type
    """,
    tags=("events", "overlap", "stats"),
)
def q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience overlap between event types: distinct-user
    Jaccard for every type pair — the 'do purchasers also view?'
    segmentation matrix. The (type, user) relation is distincted
    once (the only corpus-sized agg); the pair join is user-keyed
    with type<type orientation, producing at most |types|² rows; at
    bigger type cardinalities the same question downgrades
    gracefully to the bitmap/HLL sketch rollups
    (q_bitmap_exact_distinct, q_hll_user_sketches).
    """
    ev = load_table(spark, sf_dir, "events")
    tu = ev.select("event_type", "user_id").distinct()
    sz = tu.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a, b = tu.alias("a"), tu.alias("b")
    ov = (a.join(b, (F.col("a.user_id") == F.col("b.user_id"))
                 & (F.col("a.event_type") < F.col("b.event_type")))
          .groupBy(F.col("a.event_type").alias("type_a"),
                   F.col("b.event_type").alias("type_b"))
          .agg(F.count(F.lit(1)).alias("n_both")))
    jac = F.col("n_both") / (F.col("x.n") + F.col("y.n") - F.col("n_both"))
    return (ov.join(F.broadcast(sz.alias("x")),
                    F.col("type_a") == F.col("x.event_type"))
            .join(F.broadcast(sz.alias("y")),
                  F.col("type_b") == F.col("y.event_type"))
            .select("type_a", "type_b", "n_both",
                    F.round(jac, 6).alias("jaccard")))


@register(
    "q_ohlc_hourly",
    oracle="""
    WITH e AS (
        SELECT event_type,
               epoch_us(ts) // 3600000000 AS hour,
               epoch_us(ts) AS ts_us, event_id, value
        FROM events),
    r AS (
        SELECT event_type, hour, value,
               ROW_NUMBER() OVER (PARTITION BY event_type, hour
                                  ORDER BY ts_us, event_id) AS rn_a,
               ROW_NUMBER() OVER (PARTITION BY event_type, hour
                                  ORDER BY ts_us DESC, event_id DESC)
                   AS rn_d
        FROM e)
    SELECT event_type, hour,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
           COUNT(*) AS n_events
    FROM r GROUP BY 1, 2
    """,
    tags=("events", "window", "ohlc", "timeseries"),
)
def q_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC (open/high/low/close) of ``value`` per event type
    — the candlestick rollup every metrics store ends up needing.
    Open/close are rank-1 rows under the total (ts, event_id) order
    (deterministic under same-microsecond ties, which a naive
    min_by(value, ts) is not); high/low/count are plain aggregates.
    Two windows + one hash agg, all partitioned by the rollup key —
    at scale this is one shuffle of the events table.
    """
    ev = load_table(spark, sf_dir, "events")
    e = ev.select("event_type",
                  F.expr("unix_micros(ts) DIV 3600000000").alias("hour"),
                  F.unix_micros("ts").alias("ts_us"), "event_id", "value")
    wa = Window.partitionBy("event_type", "hour").orderBy("ts_us",
                                                          "event_id")
    wd = Window.partitionBy("event_type", "hour").orderBy(
        F.col("ts_us").desc(), F.col("event_id").desc())
    r = e.select("event_type", "hour", "value",
                 F.row_number().over(wa).alias("rn_a"),
                 F.row_number().over(wd).alias("rn_d"))
    return (r.groupBy("event_type", "hour")
            .agg(F.max(F.when(F.col("rn_a") == 1, F.col("value")))
                 .alias("open"),
                 F.max("value").alias("high"),
                 F.min("value").alias("low"),
                 F.max(F.when(F.col("rn_d") == 1, F.col("value")))
                 .alias("close"),
                 F.count(F.lit(1)).alias("n_events")))


@register(
    "q_sequence_pattern_match",
    oracle="""
    WITH s AS (
        SELECT user_id,
               string_agg(substr(event_type, 1, 1), ''
                          ORDER BY ts, event_id) AS seq
        FROM events GROUP BY user_id)
    SELECT user_id,
           CAST(length(seq) AS BIGINT) AS n_events,
           CAST(len(regexp_extract_all(seq, 'c[^p]*p')) AS BIGINT)
               AS n_click_conversions,
           CAST(len(regexp_extract_all(seq, 'v[^c]*c')) AS BIGINT)
               AS n_view_to_click,
           CAST(len(regexp_extract_all(seq, 'e+')) AS BIGINT)
               AS n_error_bursts
    FROM s
    """,
    tags=("events", "sequence", "pattern", "funnel"),
)
def q_sequence_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite sequence mining: each user's event
    history collapses to an ordered initial string (c=click,
    p=purchase, v=view, e=error, s=signup; ties broken by event_id
    so the string is fully deterministic), then regex counting
    answers pattern questions Spark has no native operator for —
    non-overlapping click->eventual-purchase conversions
    (``c[^p]*p``), view->next-click legs (``v[^c]*c``), and maximal
    error bursts (``e+``). Every pattern is of the unambiguous
    ``X[^Y]*Y`` / maximal-run form, where leftmost-first (Java) and
    leftmost-longest (RE2/DuckDB) match semantics provably agree —
    the seam that would otherwise make cross-engine regex counting
    unsafe.

    Scale shape: ONE user-keyed shuffle (collect_list with map-side
    partials), per-user strings bounded by per-user event counts
    (the sessionize family's skew posture), regex evaluation
    array-local — the whole query never materializes a pair or
    window relation. The reference's closest surface is wc's
    per-key token stream (mr/worker.go:109); this is the stateful
    sequence analogue. North-star §2D events depth.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        F.substring("event_type", 1, 1).alias("c"))
    s = (ev.groupBy("user_id")
         .agg(F.array_join(
             F.transform(
                 F.array_sort(F.collect_list(F.struct("ts", "event_id",
                                                      "c"))),
                 lambda r: r["c"]), "").alias("seq")))
    return s.select(
        "user_id",
        F.length("seq").cast("bigint").alias("n_events"),
        F.size(F.regexp_extract_all("seq", F.lit("c[^p]*p"), F.lit(0)))
        .cast("bigint").alias("n_click_conversions"),
        F.size(F.regexp_extract_all("seq", F.lit("v[^c]*c"), F.lit(0)))
        .cast("bigint").alias("n_view_to_click"),
        F.size(F.regexp_extract_all("seq", F.lit("e+"), F.lit(0)))
        .cast("bigint").alias("n_error_bursts"))


_FUN3_STEP_US = 3600 * 1_000_000  # each step must follow within 1h


@register(
    "q_funnel_ordered_3step",
    oracle=f"""
    WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
    v AS (SELECT user_id, MIN(t) AS v_t FROM e
          WHERE event_type = 'view' GROUP BY 1),
    c AS (
        SELECT e.user_id, MIN(e.t) AS c_t
        FROM e JOIN v ON v.user_id = e.user_id
        WHERE e.event_type = 'click'
          AND e.t >= v.v_t AND e.t <= v.v_t + {_FUN3_STEP_US}
        GROUP BY 1),
    p AS (
        SELECT e.user_id, MIN(e.t) AS p_t
        FROM e JOIN c ON c.user_id = e.user_id
        WHERE e.event_type = 'purchase'
          AND e.t >= c.c_t AND e.t <= c.c_t + {_FUN3_STEP_US}
        GROUP BY 1),
    j AS (
        SELECT v.user_id, v.v_t, c.c_t, p.p_t
        FROM v LEFT JOIN c ON c.user_id = v.user_id
               LEFT JOIN p ON p.user_id = v.user_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_view_users,
           CAST(COUNT(c_t) AS BIGINT) AS n_clicked,
           CAST(COUNT(p_t) AS BIGINT) AS n_completed,
           ROUND(COUNT(p_t) * 1.0 / COUNT(*), 6) AS completion_rate,
           CAST(CASE WHEN COUNT(p_t) > 0
                     THEN SUM(p_t - v_t) // COUNT(p_t) END AS BIGINT)
               AS avg_completion_us
    FROM j
    """,
    tags=("events", "funnel", "sequence", "asof"),
)
def q_funnel_ordered_3step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRICTLY-ORDERED 3-step funnel with per-step time bounds
    (ClickHouse windowFunnel semantics, earliest-chain variant):
    per user, the FIRST view, then the first click within 1h AFTER
    that view, then the first purchase within 1h after THAT click —
    each step anchored to the previous step's realized time, not to
    the funnel start. Reports per-step survivors, completion rate,
    and mean completion latency (exact integer microsecond sum over
    completers, one division). The ordered complement of
    q_funnel_conversion (any-click-to-any-purchase conversion) and
    q_sequence_pattern_match (regex counting without time bounds).

    Plan shape: three user-keyed conditional MIN aggregates chained
    by broadcast-joinable per-user anchor relations — every join is
    a user equi-join of the fact against a |users|-row relation,
    every aggregate is combiner-reduced, and nothing is ever
    per-pair (the oracle's joins are the same shape). The chain
    depth equals the funnel length; at 100 TB each step is one
    user-keyed shuffle reusing the same partitioning — AQE folds
    them onto one exchange. Reference parity: none; north-star §2D
    sequence-analytics depth.
    """
    ev = load_table(spark, sf_dir, "events")
    e = ev.select("user_id", "event_type", F.unix_micros("ts").alias("t"))
    v = (e.where(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("t").alias("v_t")))
    c = (e.join(v.withColumnRenamed("user_id", "vu"),
                (F.col("vu") == F.col("user_id"))
                & (F.col("event_type") == "click")
                & (F.col("t") >= F.col("v_t"))
                & (F.col("t") <= F.col("v_t") + _FUN3_STEP_US))
         .groupBy("user_id").agg(F.min("t").alias("c_t")))
    p = (e.join(c.withColumnRenamed("user_id", "cu"),
                (F.col("cu") == F.col("user_id"))
                & (F.col("event_type") == "purchase")
                & (F.col("t") >= F.col("c_t"))
                & (F.col("t") <= F.col("c_t") + _FUN3_STEP_US))
         .groupBy("user_id").agg(F.min("t").alias("p_t")))
    j = (v.join(c, "user_id", "left").join(p, "user_id", "left"))
    return j.agg(
        F.count(F.lit(1)).alias("n_view_users"),
        F.count("c_t").alias("n_clicked"),
        F.count("p_t").alias("n_completed"),
        F.round(F.try_divide(F.count("p_t"),
                             F.count(F.lit(1)).cast("double")), 6)
        .alias("completion_rate"),
        F.when(F.count("p_t") > 0,
               F.expr("sum(p_t - v_t) DIV count(p_t)"))
        .cast("bigint").alias("avg_completion_us"))
