"""Structured Streaming twin of the batch event-window queries.

The reference has no streaming at all (SURVEY.md §2C); this module
provides the real ``readStream → window agg → writeStream`` pipeline
the north star asks for, runnable in a test/driver context via the
``availableNow`` trigger (process everything currently in the
source, then stop — which makes the result deterministic and equal
to the batch query, so it can carry a full DuckDB oracle).

Production shape: the same code with a file/Kafka source, a real
watermark dropping late data, and an append-mode sink; here the
sink is an in-memory table the caller reads back.
"""

from __future__ import annotations

import contextlib
import contextvars
import glob
import os
import shutil
import tempfile
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from my_mapreduce_spark.io import (_ensure_runtime_confs, load_table,
                                   normalize_event_ts)
from my_mapreduce_spark.registry import (CapturedPlan, register,
                                         register_audit_plan)
from my_mapreduce_spark.session import shuffle_partitions

# Shuffle width of the memory-sink runs and of the near-dup merges: an
# availableNow run executes few, small micro-batches, so per-partition
# state-store setup never amortizes — 32 partitions of near-empty
# state tripled the wall-clock of the stream-stream join at sf0.1. A
# continuous production stream sizes this to state volume instead
# (and a checkpoint pins it once chosen).
STREAM_SHUFFLE_PARTITIONS = 8


def capture_last_microbatch(spark: SparkSession, query) -> CapturedPlan:
    """Capture the EXECUTED plan of a finished streaming query's last
    micro-batch.

    ``StreamingQueryWrapper.streamingQuery()`` unwraps the JVM
    ``StreamExecution``, whose ``lastExecution`` is the
    ``IncrementalExecution`` (a ``QueryExecution``) of the most recent
    micro-batch — the exchanges, state-store operators, and Python
    workers the stream ACTUALLY ran, not a batch re-expression. Safe
    to call after ``awaitTermination``; the JVM object outlives the
    query's stop."""
    jqe = query._jsq.streamingQuery().lastExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode
    return CapturedPlan(
        formatted=jqe.explainString(mode.fromString("formatted")),
        codegen=jqe.explainString(mode.fromString("codegen")),
        jplan=jqe.executedPlan())


# the list :func:`captured_plans` yields, while it is open
_CAPTURED: contextvars.ContextVar[list | None] = contextvars.ContextVar(
    "_CAPTURED", default=None)


@contextlib.contextmanager
def captured_plans():
    """While open, every stream this module starts (a memory-sink or a
    foreachBatch run) appends its last micro-batch's executed plan
    (:func:`capture_last_microbatch`) to the yielded list — the plan
    audit's view of a streaming query. Outside it, the runners capture
    nothing."""
    plans: list[CapturedPlan] = []
    token = _CAPTURED.set(plans)
    try:
        yield plans
    finally:
        _CAPTURED.reset(token)


def _record_plan(spark: SparkSession, query) -> None:
    """Append ``query``'s last micro-batch plan to the open
    :func:`captured_plans` list, if there is one."""
    plans = _CAPTURED.get()
    if plans is not None:
        plans.append(capture_last_microbatch(spark, query))


@contextlib.contextmanager
def _work_dir(name: str):
    """A fresh local temp directory for one stream run, removed on exit
    (also when the body raises), so no path escapes the job."""
    work = tempfile.mkdtemp(prefix=f"mmr_{name}_")
    try:
        yield work
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _file_stream(spark: SparkSession, path: str, schema,
                 **options) -> DataFrame:
    """The one parquet ``readStream`` of the streaming family: a file
    source over directory ``path`` with the given schema (a file
    stream cannot infer one) and reader options."""
    return (spark.readStream.schema(schema).format("parquet")
            .options(**options).load(path))


def _fixture_stream(spark: SparkSession, sf_dir: str,
                    table: str) -> DataFrame:
    """readStream over one fixture table as the whole input. The file
    source requires a directory, so it glob-filters to the table's
    parquet file within the sf dir."""
    _ensure_runtime_confs(spark)
    schema = spark.read.parquet(f"{sf_dir}/{table}.parquet").schema
    return _file_stream(spark, sf_dir, schema,
                        pathGlobFilter=f"{table}.parquet")


@contextlib.contextmanager
def split_file_source(spark: SparkSession, sf_dir: str, table: str,
                      n_files: int, columns: list[str] | None = None):
    """The multi-batch file stream of the streaming family: fixture
    ``table`` (cut to ``columns`` if given) lands as ``n_files``
    repartitioned parquet files in a fresh work dir, and a
    maxFilesPerTrigger=1 stream over them turns each file into one
    micro-batch — the reference's one-map-task-per-input-file split.

    Yields ``(stream, work_dir, n_written)``; the job keeps its own
    state under ``work_dir``, which is removed on exit, also when the
    body raises. ``n_written`` is COUNTED from the files on disk:
    repartition(n) skips empty partitions, so a fixture smaller than
    ``n_files`` rows yields fewer files (and batches) than asked.

    Micro-batch k holds exactly part file k: the file source orders
    files by modification time, and the parallel write leaves those
    in task-finish order, so the part files are re-stamped with
    strictly increasing mtimes in part-index order."""
    _ensure_runtime_confs(spark)
    with _work_dir(f"{table}_stream") as work:
        src = os.path.join(work, "src")
        df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
        if columns:
            df = df.select(*columns)
        df.repartition(n_files).write.mode("overwrite").parquet(src)
        parts = sorted(glob.glob(os.path.join(src, "part-*.parquet")))
        t0 = int(time.time()) - len(parts)
        for i, part in enumerate(parts):
            os.utime(part, (t0 + i, t0 + i))
        stream = _file_stream(spark, src, spark.read.parquet(src).schema,
                              maxFilesPerTrigger=1)
        yield stream, work, len(parts)


def run_foreach_batch(spark: SparkSession, stream: DataFrame,
                      batch_fn) -> list[int]:
    """Run ``stream`` to completion (availableNow) through
    ``foreachBatch(batch_fn)`` and return the epoch ids it processed,
    in order."""
    epochs: list[int] = []

    def on_batch(batch_df, epoch_id):
        batch_fn(batch_df, epoch_id)
        epochs.append(epoch_id)

    query = (stream.writeStream.foreachBatch(on_batch)
             .trigger(availableNow=True).start())
    query.awaitTermination()
    _record_plan(spark, query)
    return epochs


def _overwrite_state(partial: DataFrame, merge, state: str) -> None:
    """Fold one micro-batch's ``partial`` into the parquet state table
    at ``state``: ``merge(partial, prev)`` with the stored state as
    ``prev`` once one exists, else the partial alone. The merged
    relation is materialized BEFORE it overwrites the path it reads —
    as executor-side blocks (localCheckpoint), never a driver
    round-trip, so on a real cluster the merge stays distributed."""
    if glob.glob(os.path.join(state, "*.parquet")):
        merged = merge(partial, partial.sparkSession.read.parquet(state))
    else:
        merged = partial
    chk = merged.localCheckpoint(eager=True)
    try:
        chk.write.mode("overwrite").parquet(state)
    finally:
        chk.unpersist()


def _run_to_memory(spark: SparkSession, out: DataFrame, prefix: str,
                   mode: str) -> DataFrame:
    """Run a streaming frame to completion (availableNow) through a
    memory sink under STREAM_SHUFFLE_PARTITIONS, pin the result
    (localCheckpoint) and drop the sink table.

    The memory sink is the TEST harness's sink — its rows land on the
    driver by definition, which is why production jobs in this module
    (near-dup index, CDC state, sketch state, exactly-once landing)
    write parquet epochs through :func:`run_foreach_batch` instead and
    only the memory-sink demos use this helper. The uuid-named sink
    view is dropped on every exit, a failed stream included, so
    repeated runs in one session never accumulate sink tables.
    """
    sink = f"{prefix}_{uuid.uuid4().hex[:8]}"
    try:
        with shuffle_partitions(spark, STREAM_SHUFFLE_PARTITIONS):
            query = (out.writeStream.format("memory").queryName(sink)
                     .outputMode(mode).trigger(availableNow=True).start())
            query.awaitTermination()
            _record_plan(spark, query)
        # localCheckpoint (eager) pins the sink rows as executor-side
        # blocks so the result outlives the temp view drop — no pandas
        # round-trip through the driver, no dtype coercion seams (the
        # previous shape toPandas'd the table and had to undo NaN-ified
        # nullable ints by hand). release_caches() skips checkpointed
        # blocks by default, so a generic release cannot strand the
        # caller; harnesses that consume-then-release pass
        # force_checkpointed=True to reclaim them (caching.py contract).
        return spark.table(sink).localCheckpoint(eager=True)
    finally:
        spark.catalog.dropTempView(sink)


def _event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet with ``ts`` surfaced both
    as ``ts_us`` (long) and as a proper UTC ``ts`` timestamp,
    matching the batch path (io.normalize_event_ts) exactly for any
    fixture timestamp encoding."""
    raw = _fixture_stream(spark, sf_dir, "events")
    return normalize_event_ts(raw).withColumn(
        "ts_us", F.expr("ts_ns DIV 1000"))


def _event_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH twin of :func:`_event_stream` — the identical columns
    (``ts`` timestamp, ``ts_ns``, ``ts_us``) from a plain read: the
    input of the epoch-2 merge plans of the foreachBatch state jobs
    (see the audit plans at the end of this module)."""
    return (load_table(spark, sf_dir, "events")
            .withColumn("ts_us", F.expr("ts_ns DIV 1000")))


def run_hourly_stream(spark: SparkSession, sf_dir: str,
                      watermark: str = "2 hours") -> DataFrame:
    """Run the hourly tumbling aggregation as a streaming query over
    the events parquet, to completion (availableNow), and return the
    materialized result.

    The nanosecond ``ts`` arrives as a long (nanosAsLong, like the
    batch path) and is converted with integer DIV; the watermark
    bounds state for a continuous run — with availableNow + complete
    output it does not drop anything, so the result equals the batch
    q_events_hourly exactly.
    """
    stream = _event_stream(spark, sf_dir).withWatermark("ts", watermark)
    cents = F.round(F.col("value") * 100).cast("bigint")
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(cents).alias("sc"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:00:00").alias("hour"),
                "event_type", F.col("n").alias("n_events"),
                (F.col("sc") / 100.0).alias("sum_value"),
                (F.expr("(2 * sc * 100 + n) DIV (2 * n)") / 10000.0)
                .alias("avg_value"))
    )
    # exact bigint cents + integer half-up 4-dp average: identical to
    # the batch twin q_events_hourly, immune to float summation order
    return _run_to_memory(spark, agg, "hourly", "complete")


@register(
    "q_streaming_hourly",
    oracle="""
    WITH c AS (
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sc
        FROM events GROUP BY 1, 2)
    SELECT hour, event_type, n AS n_events,
           sc / 100.0 AS sum_value,
           ((2 * sc * 100 + n) // (2 * n)) / 10000.0 AS avg_value
    FROM c
    """,
    tags=("streaming", "events", "window"),
)
def q_streaming_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming pipeline, gated by the same oracle as its batch
    twin — proof the streaming and batch semantics coincide."""
    return run_hourly_stream(spark, sf_dir)


_GAP_US = 30 * 60 * 1_000_000  # 30-minute session gap

SESSIONIZE_OUT = "user_id long, event_id long, session_seq long"
SESSIONIZE_STATE = "last_ts long, seq long"


def make_sessionizer(gap_us: int = _GAP_US):
    """The applyInPandasWithState sessionizer closure: state per user
    is (last_ts_us, session_seq); each batch sorts its rows by
    (ts_us, event_id), continues numbering from state, and writes the
    advanced state back. Shared by the oracle-gated query and the
    checkpointed-restart test (state restore must continue numbering,
    not restart it)."""
    import pandas as pd

    def sessionize(key, pdfs, state):
        (user_id,) = key
        last_ts, seq = state.get if state.exists else (None, 0)
        rows = pd.concat(list(pdfs)).sort_values(["ts_us", "event_id"])
        seqs = []
        for ts in rows["ts_us"]:
            if last_ts is None or ts - last_ts > gap_us:
                seq += 1
            seqs.append(seq)
            last_ts = ts
        state.update((int(last_ts), int(seq)))
        yield pd.DataFrame({"user_id": user_id, "event_id": rows["event_id"],
                            "session_seq": seqs})

    return sessionize


def run_sessionize_stream(spark: SparkSession, sf_dir: str,
                          gap_us: int = _GAP_US) -> DataFrame:
    """Custom stateful streaming operator: per-user sessionization
    via ``applyInPandasWithState``.

    State per user is ``(last_ts_us, session_seq)``. Each micro-batch
    sorts its group's rows by (ts, event_id), continues the running
    session numbering from state, emits every event annotated with
    its session number (append mode — no final flush needed), and
    writes the advanced state back. This is the pattern for stateful
    operators Structured Streaming lacks natively; at scale state
    lives in the state store keyed by user, and a watermark bounds
    it (availableNow over a finite source here, so no eviction).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = _event_stream(spark, sf_dir).select("user_id", "event_id",
                                                 "ts_us")
    out = stream.groupBy("user_id").applyInPandasWithState(
        make_sessionizer(gap_us),
        outputStructType=SESSIONIZE_OUT,
        stateStructType=SESSIONIZE_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _run_to_memory(spark, out, "sessions", "append")


@register(
    "q_streaming_sessionize",
    oracle=f"""
    WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
    flagged AS (
        SELECT *,
               CASE WHEN ts_us - LAG(ts_us) OVER w > {_GAP_US}
                     OR LAG(ts_us) OVER w IS NULL
                    THEN 1 ELSE 0 END AS ns
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
    SELECT user_id, event_id,
           CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
    FROM flagged
    """,
    tags=("streaming", "stateful", "session", "events"),
)
def q_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stateful sessionizer, oracle-gated: the per-event session
    numbers it streams out must equal the batch window computation
    (LAG + running sum of gap flags) row for row."""
    return run_sessionize_stream(spark, sf_dir)


_SESSION_WINDOW_GAP_MIN = 30
_SESSION_WINDOW_GAP_US = _SESSION_WINDOW_GAP_MIN * 60 * 1_000_000


def run_session_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session aggregation via the BUILT-IN
    ``F.session_window`` — the native dynamic-gap session operator
    (vs. the hand-rolled applyInPandasWithState sessionizer above,
    which exists for semantics the built-in can't express, e.g.
    emitting per-event sequence numbers). State merges adjacent
    windows as events arrive; on an infinite stream a watermark
    evicts closed sessions, here (availableNow, complete mode) the
    final state equals the batch gaps-islands computation exactly.

    Session bounds are emitted as epoch-micros BIGINTs: start is the
    first event's timestamp, last_us is ``window.end - gap`` = the
    last event's timestamp — both exact micro-integers, so the
    DuckDB oracle matches bit-for-bit with no float/timezone seam.
    """
    stream = _event_stream(spark, sf_dir)
    agg = (
        stream.groupBy(
            "user_id",
            F.session_window("ts", f"{_SESSION_WINDOW_GAP_MIN} minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             (F.sum(F.round(F.col("value") * 100).cast("bigint")) / 100.0).alias("sum_value"))
        .select("user_id",
                F.unix_micros("w.start").alias("start_us"),
                (F.unix_micros("w.end") - _SESSION_WINDOW_GAP_US)
                .alias("last_us"),
                "n_events", "sum_value")
    )
    return _run_to_memory(spark, agg, "sesswin", "complete")


@register(
    "q_streaming_session_window",
    oracle=f"""
    WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events),
    f AS (
        SELECT *,
               CASE WHEN ts_us - LAG(ts_us) OVER w >= {_SESSION_WINDOW_GAP_US}
                     OR LAG(ts_us) OVER w IS NULL
                    THEN 1 ELSE 0 END AS ns
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
    s AS (
        SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY ts_us
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM f)
    SELECT user_id,
           MIN(ts_us)               AS start_us,
           MAX(ts_us)               AS last_us,
           COUNT(*)                 AS n_events,
           SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0     AS sum_value
    FROM s GROUP BY user_id, sid
    """,
    tags=("streaming", "session", "events", "window"),
)
def q_streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in session_window aggregation, gated by the equivalent
    batch gaps-islands oracle (new session when the gap >= 30 min —
    session_window merges an event only while it lands strictly
    inside the open [start, last+gap) window)."""
    return run_session_window_stream(spark, sf_dir)


# ---------------------------------------------------------------------------
# Streaming joins
# ---------------------------------------------------------------------------

def run_enrich_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the events stream joined to the
    static ``customer`` dimension, then aggregated per market
    segment.

    The static side is a plain batch DataFrame — Spark re-plans it
    into every micro-batch, and because it is dimension-sized it is
    broadcast (no shuffle of the stream side, no state). This is THE
    pattern for enriching a 100 TB/day event stream with reference
    data; only the post-join aggregation keeps state, bounded by
    (segments x event types).
    """
    stream = _event_stream(spark, sf_dir)
    customer = F.broadcast(
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"))
    agg = (
        stream.join(customer, stream.user_id == customer.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             (F.sum(F.round(F.col("value") * 100).cast("bigint")) / 100.0).alias("sum_value"))
    )
    return _run_to_memory(spark, agg, "enrich", "complete")


@register(
    "q_streaming_enrich",
    oracle="""
    SELECT c_mktsegment AS segment, event_type,
           COUNT(*) AS n_events, SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY 1, 2
    """,
    tags=("streaming", "join", "events"),
)
def q_streaming_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join, gated by the equivalent batch oracle."""
    return run_enrich_stream(spark, sf_dir)


_ATTRIB_WINDOW_MIN = 30   # purchase attributed to a click <= 30 min before


def run_attribution_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream join: attribute each purchase to every click by
    the same user in the preceding {window} minutes.

    Both sides are the (watermarked) events stream; the inner join
    carries an equality key (user_id) plus a two-sided event-time
    range, which is exactly what lets Structured Streaming bound the
    join state: each side's buffered rows are evicted once the other
    side's watermark passes the range. Append mode — matches emit as
    they form. With availableNow over a finite source the emitted
    set equals the batch inner join, so a full oracle applies.
    """
    ev = _event_stream(spark, sf_dir).withWatermark("ts", "2 hours")
    clicks = (ev.where(F.col("event_type") == "click")
              .select(F.col("event_id").alias("click_id"),
                      F.col("user_id").alias("c_user"),
                      F.col("ts").alias("c_ts"),
                      F.col("ts_us").alias("c_ts_us")))
    purchases = (ev.where(F.col("event_type") == "purchase")
                 .select(F.col("event_id").alias("purchase_id"),
                         F.col("user_id").alias("p_user"),
                         F.col("ts").alias("p_ts"),
                         F.col("ts_us").alias("p_ts_us")))
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr(
            f"INTERVAL {_ATTRIB_WINDOW_MIN} MINUTES")))
    out = joined.select(
        F.col("c_user").alias("user_id"), "click_id", "purchase_id",
        (F.col("p_ts_us") - F.col("c_ts_us")).alias("lag_us"))
    return _run_to_memory(spark, out, "attrib", "append")


@register(
    "q_streaming_click_attribution",
    oracle=f"""
    SELECT c.user_id AS user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL {_ATTRIB_WINDOW_MIN} MINUTE
    """,
    tags=("streaming", "join", "stream-stream", "events"),
)
def q_streaming_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream time-bounded join, gated by the equivalent batch
    inner join as oracle."""
    return run_attribution_stream(spark, sf_dir)


def run_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup: the events stream is unioned
    with itself (simulating at-least-once redelivery) and
    ``dropDuplicates`` on the event id restores each event exactly
    once. The watermark bounds the dedup state: ids older than the
    watermark are evicted, which is the production contract for
    infinite streams (a redelivery later than the watermark would
    NOT be caught — that is the documented trade)."""
    ev = _event_stream(spark, sf_dir).withWatermark("ts", "2 hours")
    doubled = ev.unionAll(_event_stream(spark, sf_dir)
                          .withWatermark("ts", "2 hours"))
    deduped = (doubled.dropDuplicates(["event_id"])
               .groupBy("event_type")
               .agg(F.count(F.lit(1)).alias("n_events"),
                    (F.sum(F.round(F.col("value") * 100).cast("bigint")) / 100.0).alias("sum_value")))
    return _run_to_memory(spark, deduped, "dedup", "complete")


@register(
    "q_streaming_dedup",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events, SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS sum_value
    FROM events GROUP BY event_type
    """,
    tags=("streaming", "dedup", "events"),
)
def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming dedup, oracle-gated: doubling the source
    then deduplicating on event id must equal the plain per-type
    aggregate over the original events."""
    return run_dedup_stream(spark, sf_dir)


def _sketch_partial(batch_df: DataFrame) -> DataFrame:
    """One micro-batch's HLL partial — factored from the foreachBatch
    merge so the first-iteration audit plan is the shipped plan."""
    return (batch_df.groupBy("event_type")
            .agg(F.hll_sketch_agg("user_id").alias("sk"),
                 F.count(F.lit(1)).alias("n_events")))


def _sketch_merged(partial: DataFrame, prev: DataFrame) -> DataFrame:
    """The sketch-state merge: register-wise HLL union of the batch
    partial into the persisted O(|event types|) state table."""
    return (prev.unionByName(partial)
            .groupBy("event_type")
            .agg(F.hll_union_agg("sk").alias("sk"),
                 F.sum("n_events").alias("n_events")))


def run_sketch_maintenance_stream(spark: SparkSession, sf_dir: str):
    """Incrementally maintain a per-event_type HLL user sketch TABLE
    across micro-batches: each batch contributes a partial sketch,
    foreachBatch merges it into the persisted state via
    ``hll_union_agg`` and rewrites the (tiny, |event_types|-row)
    state table.

    Two properties make this the production incremental-sketch
    shape at 100 TB:

    - the state table is KB-sized regardless of stream volume (a
      sketch per key, not a user set per key), so the merge step's
      cost never grows;
    - HLL union is IDEMPOTENT (register-wise max), so a replayed
      epoch merging the same partial twice yields the identical
      state — exactly-once semantics without a transaction log.

    Returns (final_estimates_df, n_batches).
    """
    with split_file_source(spark, sf_dir, "events", 4) as (stream, work, _):
        state = os.path.join(work, "state")
        epochs = run_foreach_batch(spark, stream, lambda b, _: (
            _overwrite_state(_sketch_partial(b), _sketch_merged, state)))
        # pin the final O(types) result as executor blocks before the
        # temp state dir is removed (no driver round-trip)
        out = (spark.read.parquet(state)
               .select("event_type", "n_events",
                       F.hll_sketch_estimate("sk").alias("est_users"))
               .localCheckpoint(eager=True))
        return out, len(epochs)


@register(
    "q_streaming_sketch_state",
    oracle=None,  # HLL estimates are engine-specific; equality to the
                  # batch sketch is asserted in tests/test_sketches.py
    tags=("streaming", "sketch", "incremental"),
)
def q_streaming_sketch_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental sketch maintenance (see
    run_sketch_maintenance_stream): distinct users per event_type,
    maintained as a persisted HLL state table merged once per
    micro-batch."""
    out, _ = run_sketch_maintenance_stream(spark, sf_dir)
    return out


def _neardup_sign(docs_df: DataFrame) -> DataFrame:
    """Batch-local 9-component md5 MinHash signatures + 3 band hashes
    (doc_id, m0..m8, b0..b2 — the on-disk index schema): the
    q_dedup_minhash_lsh scheme through the same _minhash_sig and
    _band_hashes, so the accumulated stream state stays
    oracle-comparable to the batch relation."""
    from my_mapreduce_spark.queries.dedup import (_BANDS, _N_MINHASH,
                                                  _band_hashes,
                                                  _minhash_sig,
                                                  _shingle_rows)

    # shingle strings: the _minhash_oracle's md5('<seed>|' || shingle)
    sh = _shingle_rows(docs_df.sparkSession, None, docs_df)
    return _band_hashes(_minhash_sig(sh, _N_MINHASH),
                        len(_BANDS), len(_BANDS[0]))


def _neardup_scored(bsig: DataFrame, all_sig: DataFrame) -> DataFrame:
    """One micro-batch's candidate generation + verification plan:
    LSH band join of the batch signatures against (index ∪ batch),
    pair-id dedup, then the minhash-agreement score cut (_band_rows,
    _band_join and _verified, the batch path's steps). Factored
    from :func:`_neardup_merge` so the first-iteration audit plan is
    the exact per-epoch dataflow the stream executes."""
    from my_mapreduce_spark.queries.dedup import (_BANDS, _MIN_MATCHES,
                                                  _N_MINHASH, _band_join,
                                                  _band_rows, _verified)

    bands = [F.col(f"b{j}") for j in range(len(_BANDS))]
    cand = (_band_join(_band_rows(bsig, bands), _band_rows(all_sig, bands),
                       F.col("a.doc_id") != F.col("b.doc_id"))
            .select(F.least("a.doc_id", "b.doc_id").alias("doc_a"),
                    F.greatest("a.doc_id", "b.doc_id").alias("doc_b"))
            .distinct())
    return _verified(cand, all_sig, _N_MINHASH, _MIN_MATCHES)


def _neardup_merge(batch_df: DataFrame, epoch_id: int, index: str,
                   pairs: str) -> None:
    """One micro-batch of the streaming near-dup job: sign the batch,
    LSH-join it against (index + batch), and write BOTH the surviving
    pairs and the batch signatures as ``epoch=<id>`` partitions of
    the persisted state — fully distributed writes, no driver
    round-trip (the previous shape ``toPandas``'d the whole index
    every batch: O(corpus) driver traffic per micro-batch, the one
    piece that would not survive a real crawl).

    IDEMPOTENT by construction — signatures are deterministic and
    each epoch overwrites ONLY its own partition — so a replayed
    epoch (failure between state write and offset commit) rewrites
    identical state; pinned by tests/test_streaming_foreachbatch.py.
    Cross-epoch duplicates cannot arise: file micro-batches partition
    the documents, and a pair is discovered exactly once, in the
    epoch where its LATER member arrives (candidates always take one
    side from the current batch)."""
    sess = batch_df.sparkSession
    # Sign ONCE per batch: the signature relation feeds five consumers
    # (own bands, union bands, both scored join sides, the state
    # write); unpersisted, the shingle-explode + minhash aggregation —
    # the batch's dominant cost — would re-run for each of them (the
    # pre-fix decade probe measured 5.9x on 10x data from exactly this
    # recompute multiplier; persisted it drops to ~2x).
    bsig = _neardup_sign(batch_df).persist()
    if os.path.isdir(index):
        all_sig = sess.read.parquet(index).drop("epoch").unionByName(bsig)
    else:
        all_sig = bsig
    scored = _neardup_scored(bsig, all_sig)
    # pairs first, then signatures: a crash in between replays the
    # epoch, and both writes land in this epoch's partition only.
    try:
        scored.distinct().write.mode("overwrite") \
            .parquet(os.path.join(pairs, f"epoch={int(epoch_id)}"))
        bsig.write.mode("overwrite") \
            .parquet(os.path.join(index, f"epoch={int(epoch_id)}"))
    finally:
        bsig.unpersist()


def run_near_dup_stream(spark: SparkSession, sf_dir: str):
    """Streaming NEAR-dup detection: MinHash-LSH on arrival against a
    persisted signature index — the production shape for deduping a
    live crawl without ever re-scanning the accumulated corpus.

    Per micro-batch (documents arriving as files):

    1. the batch's 9-component md5 MinHash signatures + 3 band
       hashes are computed from the batch alone (one batch-local
       aggregation through the batch path's _minhash_sig and
       _band_hashes — the historical corpus is never re-signed);
    2. candidates = batch bands equi-joined against (index ∪ batch)
       bands (_band_rows, _band_join), orientation normalized to
       (lo, hi) — so cross-batch pairs surface when the LATER doc
       arrives, and within-batch pairs surface immediately;
    3. pairs with >= 5/9 matching components (_verified) and the batch's
       signatures are each written as an ``epoch=<id>`` partition of
       the persisted state — distributed writes, nothing ever
       round-trips the driver, and the historical partitions are
       never rewritten. Both writes are IDEMPOTENT — signatures are
       deterministic and an epoch overwrites only its own
       partition — so a replayed epoch rewrites identical state:
       exactly-once semantics without a transaction log (same
       argument as run_sketch_maintenance_stream).

    State size: index = one 12-column row per doc (no shingles, no
    text); pairs = the near-dup relation itself. Work per batch
    scales with batch x matching-band collisions, never with the
    corpus. The accumulated pair table converges to EXACTLY the
    batch q_dedup_minhash_lsh answer, which is this job's oracle.

    Returns (pairs_df, n_batches).
    """
    # 3 micro-batches: within-batch AND cross-batch pairs both
    # exercised. Wall-clock at toy sf is dominated by per-batch FIXED
    # cost (~5 s of job scheduling per merge on local[32]), not data —
    # the overhead a real continuous stream amortizes across its
    # lifetime; the data-proportional part is one batch signing + a
    # collision-sized join per batch. The merges run under the
    # memory-sink runs' shuffle width: 3 tiny micro-batches never
    # amortize 32 near-empty shuffle partitions per merge step.
    with (shuffle_partitions(spark, STREAM_SHUFFLE_PARTITIONS),
          split_file_source(spark, sf_dir, "documents", 3)
          as (stream, work, _)):
        index = os.path.join(work, "index")
        pairs = os.path.join(work, "pairs")
        epochs = run_foreach_batch(spark, stream, lambda b, e: (
            _neardup_merge(b, e, index, pairs)))
        if glob.glob(os.path.join(pairs, "epoch=*")):
            # pin the accumulated pair relation as executor blocks
            # before the temp state dir is removed — at crawl scale
            # the pair set is dup-rate x corpus (large), and with
            # localCheckpoint it never transits the driver
            out = (spark.read.parquet(pairs).drop("epoch")
                   .distinct().localCheckpoint(eager=True))
        else:
            out = spark.createDataFrame(
                [], "doc_a long, doc_b long, n_matches long, "
                    "est_jaccard double")
        return out, len(epochs)


def _neardup_stream_oracle() -> str:
    from my_mapreduce_spark.queries.dedup import _minhash_oracle

    return _minhash_oracle()


@register(
    "q_streaming_near_dup",
    oracle=_neardup_stream_oracle(),
    tags=("streaming", "dedup", "near-dup", "minhash", "lsh"),
)
def q_streaming_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MinHash-LSH near-dup detection against a persisted
    signature index (see run_near_dup_stream): documents arrive in
    micro-batches, each batch is signed once and LSH-joined against
    the accumulated index, and the idempotently-merged pair table
    must converge to EXACTLY the batch q_dedup_minhash_lsh relation
    — which is this query's full-equality oracle."""
    out, _ = run_near_dup_stream(spark, sf_dir)
    return out


_OUTER_WINDOW_MIN = 30     # purchase within 30 min after the click
_OUTER_WATERMARK_H = 2
# Left-state eviction uses the conservative two-sided state watermark
# (left row evicted when c_ts < watermark - window, one extra window
# behind the naive c_ts + window < watermark bound — verified
# empirically); plus 60s slack for millisecond watermark truncation.
_OUTER_MARGIN_US = _OUTER_WINDOW_MIN * 60 * 1_000_000 + 60_000_000


def run_left_outer_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join: every click, with
    its attributed purchase(s) in the next {window} minutes — or a
    null-extended row if none arrived.

    The outer side is the hard part of streaming joins: a match can
    emit immediately, but "no match" is only knowable once the
    watermark passes the end of the click's join window (state
    eviction emits the null row, during the no-data micro-batch that
    follows the last data batch). Clicks newer than
    ``max_ts - watermark - window`` end the run still unresolved in
    state, so the query pre-filters the left side to clicks old
    enough to be fully resolved — making the emitted set EXACTLY the
    batch left join and the oracle a full-value check. On an infinite
    stream no filter is needed; the cutoff is the finite-source
    equivalent of "the watermark eventually passes every row".
    """
    max_us = (load_table(spark, sf_dir, "events")
              .agg(F.max(F.unix_micros("ts"))).collect()[0][0])
    # empty source: any cutoff works (the stream emits nothing);
    # 0 avoids None arithmetic — the full-outer variant's guard
    cutoff_us = (max_us or 0) \
        - (_OUTER_WATERMARK_H * 3600 + _OUTER_WINDOW_MIN * 60) * 1_000_000 \
        - _OUTER_MARGIN_US
    ev = (_event_stream(spark, sf_dir)
          .withWatermark("ts", f"{_OUTER_WATERMARK_H} hours"))
    clicks = (ev.where((F.col("event_type") == "click")
                       & (F.col("ts_us") < cutoff_us))
              .select(F.col("event_id").alias("click_id"),
                      F.col("user_id").alias("c_user"),
                      F.col("ts").alias("c_ts"),
                      F.col("ts_us").alias("c_ts_us")))
    purchases = (ev.where(F.col("event_type") == "purchase")
                 .select(F.col("event_id").alias("purchase_id"),
                         F.col("user_id").alias("p_user"),
                         F.col("ts").alias("p_ts"),
                         F.col("ts_us").alias("p_ts_us")))
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr(
            f"INTERVAL {_OUTER_WINDOW_MIN} MINUTES")),
        "leftOuter")
    out = joined.select(
        F.col("c_user").alias("user_id"), "click_id", "purchase_id",
        (F.col("p_ts_us") - F.col("c_ts_us")).alias("lag_us"),
        F.col("purchase_id").isNotNull().cast("int").alias("matched"))
    return _run_to_memory(spark, out, "louter", "append")


@register(
    "q_streaming_left_outer_join",
    oracle=f"""
    WITH cutoff AS (
        SELECT MAX(epoch_us(ts))
               - {(_OUTER_WATERMARK_H * 3600 + _OUTER_WINDOW_MIN * 60)
                  * 1_000_000 + _OUTER_MARGIN_US} AS us
        FROM events),
    c AS (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'click'
            AND epoch_us(ts) < (SELECT us FROM cutoff)),
    p AS (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase')
    SELECT c.user_id AS user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS lag_us,
           CAST(p.event_id IS NOT NULL AS INT) AS matched
    FROM c LEFT JOIN p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL {_OUTER_WINDOW_MIN} MINUTE
    """,
    tags=("streaming", "join", "stream-stream", "outer", "events"),
)
def q_streaming_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER time-range join, gated by the exact
    batch left join (see run_left_outer_join_stream for why the
    left-side cutoff makes the equality exact)."""
    return run_left_outer_join_stream(spark, sf_dir)


def run_dedup_within_wm_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup via ``dropDuplicatesWithinWatermark`` — the API built
    for at-least-once sources whose duplicates carry DIFFERENT event
    times (a redelivery gets a new ingestion timestamp, so exact
    dropDuplicates on (id, ts) would NOT collapse it; this one keeps
    state per id only until the watermark passes the FIRST sighting
    plus the delay).

    Here the doubled source replays identical rows, a superset of
    the different-ts case; the per-type aggregate must equal the
    plain batch answer."""
    ev = _event_stream(spark, sf_dir).withWatermark("ts", "2 hours")
    doubled = ev.unionAll(_event_stream(spark, sf_dir)
                          .withWatermark("ts", "2 hours"))
    picked = doubled.select("event_id", "event_type", "value", "ts")
    deduped = (picked.dropDuplicatesWithinWatermark(["event_id"])
               .groupBy("event_type")
               .agg(F.count(F.lit(1)).alias("n_events"),
                    (F.sum(F.round(F.col("value") * 100).cast("bigint")) / 100.0).alias("sum_value")))
    return _run_to_memory(spark, deduped, "dedupwm", "complete")


@register(
    "q_streaming_dedup_within_wm",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events, SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS sum_value
    FROM events GROUP BY event_type
    """,
    tags=("streaming", "dedup", "watermark", "events"),
)
def q_streaming_dedup_within_wm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark dedup, gated by the same batch
    oracle as q_streaming_dedup (the two APIs must agree on replayed
    input)."""
    return run_dedup_within_wm_stream(spark, sf_dir)


def run_full_outer_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream FULL OUTER join — the last cell of
    the streaming join matrix (inner, left-outer, full-outer):
    every click with its purchase(s) within the next
    {_OUTER_WINDOW_MIN} minutes, PLUS a null-extended row for every
    purchase no click preceded. Both outer sides emit on state
    eviction, so BOTH streams are pre-filtered to rows the
    watermark fully resolves before the source drains (the same
    finite-source cutoff argument as run_left_outer_join_stream —
    on an infinite stream no filter exists); the emitted relation
    is then EXACTLY the batch full join and the oracle a
    full-value check.

    The cutoffs on the two sides are deliberately expressed over
    DIFFERENT columns (``ts_us`` long vs the ``ts`` timestamp
    itself, same instant): when both branches filter with the
    IDENTICAL predicate, Catalyst hoists the common filter below
    the shared EventTimeWatermark operator, the watermark then
    never sees any event past the cutoff, final wm =
    cutoff - delay, and the last watermark+window of kept rows can
    NEVER evict — the join silently under-emits its outer rows
    (observed: 16 rows short at sf0.01). Structurally distinct
    predicates are not recognized as common, stay above the
    watermark, and the wm advances on the full source like the
    left-outer case (whose single-side filter was never pushable
    to the shared node in the first place)."""
    max_us = (load_table(spark, sf_dir, "events")
              .agg(F.max(F.unix_micros("ts"))).collect()[0][0])
    if max_us is None:  # empty source: typed empty result, not a crash
        return spark.createDataFrame(
            [], "user_id long, click_id long, purchase_id long, "
                "lag_us long, matched int")
    cutoff_us = (
        max_us
        - (_OUTER_WATERMARK_H * 3600 + _OUTER_WINDOW_MIN * 60) * 1_000_000
        - _OUTER_MARGIN_US
    )
    ev = (_event_stream(spark, sf_dir)
          .withWatermark("ts", f"{_OUTER_WATERMARK_H} hours"))
    clicks = (ev.where((F.col("event_type") == "click")
                       & (F.col("ts_us") < cutoff_us))
              .select(F.col("event_id").alias("click_id"),
                      F.col("user_id").alias("c_user"),
                      F.col("ts").alias("c_ts"),
                      F.col("ts_us").alias("c_ts_us")))
    purchases = (ev.where((F.col("event_type") == "purchase")
                          & (F.col("ts") < F.timestamp_micros(
                              F.lit(cutoff_us))))
                 .select(F.col("event_id").alias("purchase_id"),
                         F.col("user_id").alias("p_user"),
                         F.col("ts").alias("p_ts"),
                         F.col("ts_us").alias("p_ts_us")))
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr(
            f"INTERVAL {_OUTER_WINDOW_MIN} MINUTES")),
        "fullOuter")
    out = joined.select(
        F.coalesce(F.col("c_user"), F.col("p_user")).alias("user_id"),
        "click_id", "purchase_id",
        (F.col("p_ts_us") - F.col("c_ts_us")).alias("lag_us"),
        (F.col("click_id").isNotNull()
         & F.col("purchase_id").isNotNull()).cast("int").alias("matched"))
    return _run_to_memory(spark, out, "fouter", "append")


@register(
    "q_streaming_full_outer_join",
    oracle=f"""
    WITH cutoff AS (
        SELECT MAX(epoch_us(ts))
               - {(_OUTER_WATERMARK_H * 3600 + _OUTER_WINDOW_MIN * 60)
                  * 1_000_000 + _OUTER_MARGIN_US} AS us
        FROM events),
    c AS (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'click'
            AND epoch_us(ts) < (SELECT us FROM cutoff)),
    p AS (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase'
            AND epoch_us(ts) < (SELECT us FROM cutoff))
    SELECT COALESCE(c.user_id, p.user_id) AS user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS lag_us,
           CAST(c.event_id IS NOT NULL AND p.event_id IS NOT NULL
                AS INT) AS matched
    FROM c FULL JOIN p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL {_OUTER_WINDOW_MIN} MINUTE
    """,
    tags=("streaming", "join", "stream-stream", "outer", "events"),
)
def q_streaming_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER time-range join, gated by the exact
    batch full join (see run_full_outer_join_stream for the
    two-sided cutoff that makes the equality exact)."""
    return run_full_outer_join_stream(spark, sf_dir)


def _cdc_epochs_on_disk(state: str) -> list[int]:
    """Committed CDC state epochs (epoch=N dirs carrying _SUCCESS),
    ascending. A crash mid-write leaves no _SUCCESS, so a half-written
    epoch is invisible — the predecessor lookup below never reads it."""
    import re

    ids = []
    for d in glob.glob(os.path.join(state, "epoch=*")):
        m = re.fullmatch(r"epoch=(\d+)", os.path.basename(d))
        if m and os.path.exists(os.path.join(d, "_SUCCESS")):
            ids.append(int(m.group(1)))
    return sorted(ids)


def _cdc_partial(ev: DataFrame) -> DataFrame:
    """One CDC micro-batch's per-user reduction (latest event by
    (ts_us, event_id) + batch count) — factored from the merge so the
    first-iteration audit plan is the shipped plan."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts_us").desc(), F.col("event_id").desc())
    return (ev
            .withColumn("rn", F.row_number().over(w))
            .withColumn("n", F.count(F.lit(1)).over(
                Window.partitionBy("user_id")))
            .where(F.col("rn") == 1)
            .select("user_id",
                    F.col("event_type").alias("last_type"),
                    F.col("ts_us").alias("last_ts_us"),
                    F.col("event_id").alias("last_eid"),
                    F.col("n").alias("n_events")))


def _cdc_merged(partial: DataFrame, prev: DataFrame) -> DataFrame:
    """The CDC upsert merge: full-outer join of the batch partial
    into the predecessor state, argmax by (ts_us, event_id) + count
    sum — associative and commutative across batches."""
    b, p = partial.alias("b"), prev.alias("p")
    newer = (
        F.col("p.user_id").isNull()
        | (F.col("b.last_ts_us") > F.col("p.last_ts_us"))
        | ((F.col("b.last_ts_us") == F.col("p.last_ts_us"))
           & (F.col("b.last_eid") > F.col("p.last_eid"))))
    take_b = F.col("b.user_id").isNotNull() & newer
    return (b.join(p, F.col("b.user_id") == F.col("p.user_id"), "full")
            .select(
                F.coalesce("b.user_id", "p.user_id").alias("user_id"),
                F.when(take_b, F.col("b.last_type"))
                .otherwise(F.col("p.last_type")).alias("last_type"),
                F.when(take_b, F.col("b.last_ts_us"))
                .otherwise(F.col("p.last_ts_us")).alias("last_ts_us"),
                F.when(take_b, F.col("b.last_eid"))
                .otherwise(F.col("p.last_eid")).alias("last_eid"),
                (F.coalesce("b.n_events", F.lit(0))
                 + F.coalesce("p.n_events", F.lit(0))).alias("n_events")))


def _cdc_merge_batch(ev: DataFrame, epoch_id: int, state: str) -> None:
    """One CDC micro-batch merge, fully distributed and replay-safe.

    ``ev`` is the batch's (user_id, event_id, event_type, ts_us)
    relation. The batch reduces to one row per user (latest event by
    (ts_us, event_id) + batch count), full-outer-merges into the
    PREDECESSOR epoch's state — the newest committed ``epoch=<id>``
    directory with id STRICTLY below this epoch, discovered from disk
    so a restarted query resumes where the crashed one left off — and
    writes its own ``epoch=<id>`` directory. Disjoint read/write dirs
    dissolve the read-overwrite conflict with zero driver traffic.

    Idempotent under at-least-once foreachBatch delivery: a replayed
    epoch re-reads the SAME predecessor (strict <, never itself) and
    deterministically rewrites the same directory. To keep that true
    across a crash-between-write-and-commit, pruning keeps exactly one
    superseded epoch (the predecessor); only older generations are
    deleted — on-disk state stays <= 2x O(users)."""
    sess = ev.sparkSession
    partial = _cdc_partial(ev)
    prior = [e for e in _cdc_epochs_on_disk(state) if e < int(epoch_id)]
    if prior:
        prev = sess.read.parquet(os.path.join(state, f"epoch={prior[-1]}"))
        merged = _cdc_merged(partial, prev)
    else:
        merged = partial
    merged.write.mode("overwrite").parquet(
        os.path.join(state, f"epoch={int(epoch_id)}"))
    # prune generations older than the predecessor (kept for replay)
    for e in prior[:-1]:
        shutil.rmtree(os.path.join(state, f"epoch={e}"),
                      ignore_errors=True)


def run_cdc_upsert_stream(spark: SparkSession, sf_dir: str):
    """Maintain a per-user PROFILE table from an event stream by CDC
    upsert — the foreachBatch-merge production pattern: each
    micro-batch reduces to one row per user seen in the batch (its
    latest event by (ts, event_id) plus a batch event count), and
    the merge full-outer-joins that partial into the persisted
    state, summing counts and keeping the lexicographically latest
    (ts_us, event_id) version. The merge is associative and
    commutative across batches (argmax + sum), so batch boundaries
    (here: 4 hash-split files via maxFilesPerTrigger=1) cannot
    change the final state — which is exactly what the batch oracle
    asserts.

    State is O(users) rows; each batch rewrites it with an
    O(batch-users) partial. On a lake the rewrite is a keyed MERGE
    INTO (Delta/Iceberg); here the merged state lands as an
    ``epoch=<id>`` directory — each batch READS the previous
    epoch's directory and WRITES its own, so the merge is a fully
    distributed join+write with NO driver round-trip (the previous
    shape ``toPandas``'d the whole O(users) state every batch to
    dodge the read-write-same-path conflict; disjoint epoch dirs
    dissolve the conflict instead). Superseded epochs older than the
    immediate predecessor are pruned after each successful write, so
    on-disk state stays <= 2x O(users); the predecessor itself is
    kept so a replayed epoch (crash between write and offset commit)
    deterministically rewrites the same directory — idempotent, the
    same exactly-once argument as run_near_dup_stream, and pinned
    under a simulated crash by tests/test_cdc_upsert_restart.py.
    Returns (profile_summary_df, n_batches).
    """
    with split_file_source(spark, sf_dir, "events", 4) as (stream, work, _):
        state = os.path.join(work, "state")

        def merge_batch(batch_df, epoch_id):
            ev = normalize_event_ts(batch_df).select(
                "user_id", "event_id", "event_type",
                F.expr("ts_ns DIV 1000").alias("ts_us"))
            _cdc_merge_batch(ev, epoch_id, state)

        epochs = run_foreach_batch(spark, stream, merge_batch)
        committed = _cdc_epochs_on_disk(state)
        if not committed:
            return (spark.createDataFrame(
                [], "last_type string, n_users bigint, n_events bigint, "
                    "max_last_ts_us bigint"), 0)
        out = (spark.read.parquet(
                   os.path.join(state, f"epoch={committed[-1]}"))
               .groupBy("last_type")
               .agg(F.count(F.lit(1)).alias("n_users"),
                    F.sum("n_events").alias("n_events"),
                    F.max("last_ts_us").alias("max_last_ts_us")))
        # pin the O(types) summary as executor blocks before the temp
        # state dir is removed (no driver round-trip)
        return (out.localCheckpoint(eager=True), len(epochs))


@register(
    "q_streaming_cdc_upsert",
    oracle="""
    WITH r AS (
        SELECT user_id, event_type,
               epoch_us(ts) AS ts_us,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
        FROM events)
    SELECT event_type AS last_type,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(n) AS BIGINT) AS n_events,
           CAST(MAX(ts_us) AS BIGINT) AS max_last_ts_us
    FROM r WHERE rn = 1
    GROUP BY event_type
    """,
    tags=("streaming", "cdc", "upsert", "foreachBatch", "events"),
)
def q_streaming_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC upsert stream into a per-user profile table, summarized
    per latest event type and gated by the batch argmax oracle (see
    run_cdc_upsert_stream: the merge is associative+commutative, so
    the 4-batch streaming result must equal the one-shot batch
    answer exactly)."""
    out, _ = run_cdc_upsert_stream(spark, sf_dir)
    return out


def run_psi_drift_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift monitor: documents arrive as a stream, the
    per-(source, bin) drift COUNTERS are a streaming aggregation
    (complete mode — exactly the counter table a continuous monitor
    keeps hot), and the PSI closed form runs on the materialized
    counter relation after the trigger — the shared
    stats_ext.psi_terms_from_counts, so the streaming monitor and
    the batch q_psi_drift are the same math over the same counters
    by construction.

    The reference bin bounds come from a calibration snapshot (the
    static src0 slice) as two driver scalars — the documented
    1-row-bounded collect shape (jobs.py streaming cutoff) — which
    is also the production contract: drift is measured against a
    FROZEN reference, so its bounds are calibration constants, not
    stream state. At scale the streaming agg holds |sources| × 10
    counter rows of state, watermark-free (counters never expire).
    """
    from my_mapreduce_spark.queries.stats_ext import (
        _PSI_BINS,
        _PSI_REF,
        psi_terms_from_counts,
    )

    _ensure_runtime_confs(spark)
    ref = (load_table(spark, sf_dir, "documents")
           .where(F.col("source") == _PSI_REF)
           .agg(F.min("n_chars").alias("mn"),
                F.max("n_chars").alias("mx")).first())
    # empty calibration slice: bounds degenerate to [0, 0] (the
    # stream is empty too, so no row ever evaluates the expression)
    mn = int(ref["mn"]) if ref["mn"] is not None else 0
    mx = int(ref["mx"]) if ref["mx"] is not None else 0
    stream = _fixture_stream(spark, sf_dir, "documents").select(
        "source", "n_chars")
    # the literal-inlined twin of the batch q_psi_drift bin: same
    # exact integer DIV arithmetic, bounds as calibration constants
    binned = stream.select(
        "source",
        F.expr(f"CAST(LEAST({_PSI_BINS - 1}, "
               f"((LEAST({mx}, GREATEST({mn}, n_chars)) - {mn})"
               f" * {_PSI_BINS}) DIV ({mx} - {mn} + 1)) AS BIGINT)")
        .alias("bin"))
    counts = binned.groupBy("source", "bin").agg(
        F.count(F.lit(1)).alias("c"))
    c = _run_to_memory(spark, counts, "psi_counts", "complete")
    return psi_terms_from_counts(spark, c)


# imported here, not at the top: a query module loads the whole query
# package, whose streaming.stateful imports the harness defined above
from my_mapreduce_spark.queries.stats_ext import _PSI_ORACLE  # noqa: E402


@register(
    "q_streaming_psi_drift",
    oracle=_PSI_ORACLE,  # the batch twin q_psi_drift's oracle
    tags=("streaming", "drift", "psi", "monitoring"),
)
def q_streaming_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming drift monitor, gated by the SAME oracle as the
    batch q_psi_drift — proof the counter-table streaming shape and
    the batch pass produce identical drift terms."""
    return run_psi_drift_stream(spark, sf_dir)


def run_exactly_once_file_sink(spark: SparkSession, sf_dir: str):
    """Streaming EXACTLY-ONCE FILE sink: foreachBatch writes each
    micro-batch to its own ``batch=<epoch>/`` parquet directory with
    mode=overwrite — the idempotent-by-construction production sink
    (a replayed epoch rewrites its directory byte-identically instead
    of appending duplicates; Spark's checkpoint guarantees at-least-
    once foreachBatch delivery, and per-epoch overwrite upgrades that
    to exactly-once output).

    This is the file-sink sibling of run_sketch_maintenance_stream's
    idempotent state merge: that one proves exactly-once for
    ACCUMULATED state, this one for the RAW landed data a lakehouse
    ingestion writes. The read-back aggregate over the landed files
    carries a full DuckDB oracle (stream landing must lose/duplicate
    nothing). Returns (result_df, n_batches) — n_batches counts the
    REAL epochs only (the in-process replay that proves idempotence
    is not a new epoch), and the temp landing dir is removed on
    return, so no path escapes this function.

    Scale shape: each epoch's write is a normal distributed parquet
    write (no driver traffic); landing is partitioned by epoch so
    concurrent readers never see a half-written epoch after the
    directory swap.
    """
    with split_file_source(spark, sf_dir, "events", 4) as (stream, work, _):
        land = os.path.join(work, "landed")

        def land_batch(batch_df, epoch_id):
            # idempotent epoch landing: replay => same dir, same bytes
            (batch_df.write.mode("overwrite")
             .parquet(os.path.join(land, f"batch={epoch_id}")))

        seen = run_foreach_batch(spark, stream, land_batch)
        landed = spark.read.option("basePath", land) \
            .parquet(os.path.join(land, "batch=*"))
        # replay the LAST epoch verbatim (simulating a post-crash
        # re-delivery) and prove the landed set is unchanged
        last = max(seen)
        n_batches = len(seen)  # real epoch count, before the replay
        # materialize the replayed rows BEFORE overwriting the very
        # directory they are lazily read from (the sketch job's
        # read-then-overwrite discipline, via executor-side
        # localCheckpoint instead of a driver round-trip)
        replay_src = (spark.read.parquet(os.path.join(land, f"batch={last}"))
                      .localCheckpoint(eager=True))
        n_before = landed.count()
        land_batch(replay_src, last)
        landed = spark.read.option("basePath", land) \
            .parquet(os.path.join(land, "batch=*"))
        assert landed.count() == n_before, "replayed epoch duplicated rows"

        out = (normalize_event_ts(landed)
               .groupBy("event_type")
               .agg(F.count(F.lit(1)).alias("n_events"),
                    F.count_distinct("user_id").alias("n_users"),
                    (F.sum(F.round(F.col("value") * 100).cast("bigint")) / 100.0).alias("sum_value")))
        # pin the O(types) aggregate as executor blocks before the
        # temp landing dir is removed (no driver round-trip)
        return out.localCheckpoint(eager=True), n_batches


@register(
    "q_streaming_exactly_once_sink",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS sum_value
    FROM events GROUP BY event_type
    """,
    tags=("streaming", "sink", "exactly-once", "events"),
)
def q_streaming_exactly_once_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-batch stream landed to per-epoch parquet directories with
    idempotent overwrite, one epoch replayed to prove exactly-once,
    then aggregated — must equal the batch aggregate over the source
    exactly (nothing lost, nothing duplicated)."""
    result, _ = run_exactly_once_file_sink(spark, sf_dir)
    return result


_TIER_CENTS = 2500  # signup value >= 25.00 => "premium" tier


def run_scd2_enrich_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream enriched against an SCD2 (validity-interval) dimension:
    signup events build the slowly-changing per-user tier table in
    BATCH (each signup opens a version, closed by the next one), and
    the purchase STREAM joins it on user AND event-time containment
    — every purchase picks up the tier that was true AT ITS
    TIMESTAMP, not the latest one (the temporal-correctness property
    plain stream-static enrichment by key cannot give).

    The dimension is static within the run and dimension-sized, so
    Spark broadcasts it into every micro-batch and the range
    predicate evaluates post-broadcast — no stream-side shuffle, no
    state beyond the final bounded aggregate. At 100 TB with a
    dimension that itself updates, this becomes foreachBatch re-read
    of the SCD2 table (the q_streaming_cdc_upsert machinery) with
    the same join shape.
    """
    dim_w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    signup = (load_table(spark, sf_dir, "events")
              .where(F.col("event_type") == "signup")
              .select("user_id", F.unix_micros("ts").alias("ts_us"),
                      "event_id", "value"))
    dim = (signup.select(
        "user_id",
        F.col("ts_us").alias("valid_from"),
        F.coalesce(F.lead("ts_us").over(dim_w),
                   F.lit(2 ** 62)).alias("valid_to"),
        F.when(F.round(F.col("value") * 100).cast("bigint")
               >= _TIER_CENTS, "premium").otherwise("basic").alias("tier")))
    purchases = (_event_stream(spark, sf_dir)
                 .where(F.col("event_type") == "purchase")
                 .select("user_id", "ts_us", "value"))
    joined = purchases.join(
        F.broadcast(dim),
        (purchases.user_id == dim.user_id)
        & (purchases.ts_us >= dim.valid_from)
        & (purchases.ts_us < dim.valid_to))
    agg = (joined.groupBy("tier")
           .agg(F.count(F.lit(1)).alias("n_purchases"),
                F.sum(F.round(purchases.value * 100).cast("bigint"))
                .alias("sum_cents")))
    return _run_to_memory(spark, agg, "scd2", "complete")


@register(
    "q_streaming_scd2_enrich",
    oracle=f"""
    WITH dim AS (
        SELECT user_id,
               epoch_us(ts) AS valid_from,
               COALESCE(LEAD(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY epoch_us(ts), event_id),
                   4611686018427387904) AS valid_to,
               CASE WHEN CAST(ROUND(value * 100) AS BIGINT) >= {_TIER_CENTS}
                    THEN 'premium' ELSE 'basic' END AS tier
        FROM events WHERE event_type = 'signup')
    SELECT dim.tier,
           COUNT(*) AS n_purchases,
           CAST(SUM(CAST(ROUND(p.value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM events p JOIN dim
      ON p.user_id = dim.user_id
     AND epoch_us(p.ts) >= dim.valid_from
     AND epoch_us(p.ts) < dim.valid_to
    WHERE p.event_type = 'purchase'
    GROUP BY dim.tier
    """,
    tags=("streaming", "join", "scd2", "temporal", "events"),
)
def q_streaming_scd2_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal (SCD2) stream enrichment, gated by the equivalent
    batch interval-containment join as oracle."""
    return run_scd2_enrich_stream(spark, sf_dir)


def run_right_outer_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream RIGHT OUTER join — the mirror of
    run_left_outer_join_stream completing the stream-stream join
    family (inner / left / right / full): every purchase with the
    click(s) that preceded it within the window, or a null-extended
    row if nothing attributed it.

    The preserved side is now the PURCHASES: an unmatched purchase
    emits when its state is evicted, i.e. once the watermark has
    passed its whole candidate-click range. The finite-source cutoff
    therefore pre-filters purchases to those old enough to be fully
    resolved (same conservative two-sided bound the LEFT variant
    derives), making the emitted set EXACTLY the batch right join.
    """
    # The cutoff is applied AFTER the join, never to the purchases
    # STREAM: filtering a watermarked branch lowers that branch's own
    # max event time, which drags the GLOBAL watermark down by the
    # filter depth — the newest kept purchases then sit forever
    # inside the (recursively receding) eviction horizon and their
    # null rows never emit (measured on sf0.001: a purchase 5.57h
    # behind max never resolved behind a 3.52h pre-filter). An
    # output-side filter leaves watermark dynamics untouched; the
    # eviction law measured on a synthetic probe is
    # p_ts <= max_ts - (watermark + 2*window), so this cutoff
    # (watermark + 2*window + margin) keeps only provably-resolved
    # purchases and the emitted set equals the batch right join.
    max_us = (load_table(spark, sf_dir, "events")
              .agg(F.max(F.unix_micros("ts"))).collect()[0][0])
    # empty source: any cutoff works (the stream emits nothing)
    cutoff_us = (max_us or 0) \
        - (_OUTER_WATERMARK_H * 3600 + 2 * _OUTER_WINDOW_MIN * 60) \
        * 1_000_000 \
        - _OUTER_MARGIN_US
    ev = (_event_stream(spark, sf_dir)
          .withWatermark("ts", f"{_OUTER_WATERMARK_H} hours"))
    clicks = (ev.where(F.col("event_type") == "click")
              .select(F.col("event_id").alias("click_id"),
                      F.col("user_id").alias("c_user"),
                      F.col("ts").alias("c_ts"),
                      F.col("ts_us").alias("c_ts_us")))
    purchases = (ev.where(F.col("event_type") == "purchase")
                 .select(F.col("event_id").alias("purchase_id"),
                         F.col("user_id").alias("p_user"),
                         F.col("ts").alias("p_ts"),
                         F.col("ts_us").alias("p_ts_us")))
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr(
            f"INTERVAL {_OUTER_WINDOW_MIN} MINUTES")),
        "rightOuter")
    out = joined.select(
        F.col("p_user").alias("user_id"), "purchase_id", "click_id",
        "p_ts_us",
        (F.col("p_ts_us") - F.col("c_ts_us")).alias("lag_us"),
        F.col("click_id").isNotNull().cast("int").alias("attributed"))
    landed = _run_to_memory(spark, out, "router", "append")
    # filter on the MATERIALIZED result, not the streaming plan: a
    # pre-join stream filter (or a post-join filter, which the
    # optimizer pushes back through the right outer join into the
    # stream) lowers the purchases branch's event-time max and drags
    # the global watermark below what the kept rows need to resolve
    return landed.where(F.col("p_ts_us") < cutoff_us).drop("p_ts_us")


@register(
    "q_streaming_right_outer_join",
    oracle=f"""
    WITH cutoff AS (
        SELECT MAX(epoch_us(ts))
               - {(_OUTER_WATERMARK_H * 3600 + 2 * _OUTER_WINDOW_MIN * 60)
                  * 1_000_000 + _OUTER_MARGIN_US} AS us
        FROM events),
    c AS (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'click'),
    p AS (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase'
            AND epoch_us(ts) < (SELECT us FROM cutoff))
    SELECT p.user_id AS user_id,
           p.event_id AS purchase_id,
           c.event_id AS click_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS lag_us,
           CAST(c.event_id IS NOT NULL AS INT) AS attributed
    FROM c RIGHT JOIN p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL {_OUTER_WINDOW_MIN} MINUTE
    """,
    tags=("streaming", "join", "stream-stream", "outer", "events"),
)
def q_streaming_right_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream RIGHT OUTER time-range join, gated by the exact
    batch right join — completes the inner/left/right/full family."""
    return run_right_outer_join_stream(spark, sf_dir)


_DG_SHORT_US = 15 * 60 * 1_000_000   # click/view gap: 15 min
_DG_LONG_US = 45 * 60 * 1_000_000    # other events keep sessions alive 45 min


def run_session_dynamic_gap_stream(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Per-user sessions with a DYNAMIC gap: ``F.session_window``
    takes a gap EXPRESSION evaluated per event (clicks/views time out
    after 15 minutes; purchases/signups/errors hold the session open
    45) — the per-event-semantics upgrade over the fixed-gap job
    (run_session_window_stream). A session is the union of
    overlapping [ts, ts+gap(event)) intervals; its end is
    max(ts + gap) over members, which the batch oracle reproduces
    exactly with a running-max gaps-islands computation (everything
    in exact epoch micros — no float, no timezone seam).
    """
    # session_window requires CalendarIntervalType (not the ANSI
    # day-time interval INTERVAL literals produce) — build it with
    # make_interval
    gap = F.when(F.col("event_type").isin("click", "view"),
                 F.expr("make_interval(0, 0, 0, 0, 0, 15, 0)")) \
        .otherwise(F.expr("make_interval(0, 0, 0, 0, 0, 45, 0)"))
    stream = _event_stream(spark, sf_dir)
    agg = (
        stream.groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(F.round(F.col("value") * 100).cast("bigint"))
             .alias("sum_cents"))
        .select("user_id",
                F.unix_micros("w.start").alias("start_us"),
                F.unix_micros("w.end").alias("end_us"),
                "n_events", "sum_cents")
    )
    return _run_to_memory(spark, agg, "dynsess", "complete")


@register(
    "q_streaming_session_dynamic_gap",
    oracle=f"""
    WITH e AS (
        SELECT user_id, epoch_us(ts) AS ts_us,
               CAST(ROUND(value * 100) AS BIGINT) AS cents,
               CASE WHEN event_type IN ('click', 'view')
                    THEN {_DG_SHORT_US} ELSE {_DG_LONG_US} END AS gap_us
        FROM events),
    r AS (
        SELECT user_id, ts_us, cents, gap_us,
               MAX(ts_us + gap_us) OVER (
                   PARTITION BY user_id ORDER BY ts_us
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_end
        FROM e),
    f AS (
        SELECT user_id, ts_us, cents, gap_us,
               CASE WHEN prev_end IS NULL OR ts_us >= prev_end
                    THEN 1 ELSE 0 END AS new_session
        FROM r),
    g AS (
        SELECT user_id, ts_us, cents, gap_us,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts_us
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_id
        FROM f)
    SELECT user_id,
           MIN(ts_us) AS start_us,
           MAX(ts_us + gap_us) AS end_us,
           COUNT(*) AS n_events,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM g GROUP BY user_id, session_id
    """,
    tags=("streaming", "session-window", "dynamic-gap", "events"),
)
def q_streaming_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap session windows, gated by the exact batch
    running-max gaps-islands oracle."""
    return run_session_dynamic_gap_stream(spark, sf_dir)


# ---------------------------------------------------------------------------
# First-iteration audit plans of the foreachBatch state jobs. The plan
# audit reads every other stream's plan from the stream itself: the
# executed plan of its last micro-batch, recorded under
# captured_plans(). For a foreachBatch job that plan is only the
# pass-through landing; the merge each epoch runs is a batch job
# inside the callback. So these jobs register epoch 2's merge plan,
# built from the same partial/merged functions the callback calls.
# ---------------------------------------------------------------------------

def _epoch2_merge_plan(batch: DataFrame, key: str, partial,
                       merged) -> DataFrame:
    """Epoch 2's merge plan of a foreachBatch state job, built from its
    own ``partial``/``merged`` functions: the odd-``key`` half of
    ``batch`` reduced and merged into an epoch-1 state that is the
    even half reduced the same way and materialized."""
    prev = (partial(batch.where(F.expr(f"{key} % 2 = 0")))
            .localCheckpoint(eager=True))
    return merged(partial(batch.where(F.expr(f"{key} % 2 = 1"))), prev)


@register_audit_plan(
    "q_streaming_sketch_state",
    note="epoch 2's merge plan (_sketch_partial + _sketch_merged, the "
         "factored foreachBatch body — no duplicated logic): the batch "
         "partial HLL union-merged into an epoch-1 state built the "
         "same way; the file landing around it has no dataflow plan")
def _q_sketch_state_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _epoch2_merge_plan(_event_batch(spark, sf_dir), "user_id",
                              _sketch_partial, _sketch_merged)


@register_audit_plan(
    "q_streaming_cdc_upsert",
    note="epoch 2's merge plan (_cdc_partial + _cdc_merged, the "
         "factored foreachBatch body — no duplicated logic): the batch "
         "per-user reduction full-outer-merged into an epoch-1 state "
         "built the same way; the epoch-dir landing has no dataflow "
         "plan")
def _q_cdc_upsert_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (_event_batch(spark, sf_dir)
          .select("user_id", "event_id", "event_type", "ts_us"))
    return _epoch2_merge_plan(ev, "user_id", _cdc_partial, _cdc_merged)


@register_audit_plan(
    "q_streaming_near_dup",
    note="one epoch's sign + LSH-band join + verify plan "
         "(_neardup_sign/_neardup_scored, the factored foreachBatch "
         "body over dedup's shared _minhash_sig/_band_hashes/"
         "_band_rows/_band_join/_verified): batch signatures "
         "joined against (index ∪ batch) where the index is the other "
         "half of the corpus signed the same way")
def _q_near_dup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bsig = _neardup_sign(docs.where(F.expr("doc_id % 2 = 1")))
    index_sig = (_neardup_sign(docs.where(F.expr("doc_id % 2 = 0")))
                 .localCheckpoint(eager=True))  # the persisted index
    return _neardup_scored(bsig, index_sig.unionByName(bsig))


# ---------------------------------------------------------------------------
# Streaming curation ingest: the endgame's quality + exact-dedup
# stages as a stream (round-11 — the batch twin is
# queries/curation_ext._endgame_survivors)

def _curation_partial(batch_df: DataFrame) -> DataFrame:
    """One micro-batch's contribution: quality-filter the batch, key
    by the canonical content hash, keep the per-hash MINIMUM
    (doc_id, lang, n_chars) struct — min over a struct ordered by
    doc_id first, so the surviving attributes are the winner's."""
    from my_mapreduce_spark.queries.curation_ext import (norm_hash_col,
                                                         quality_pass)

    q = quality_pass(batch_df)
    return (q.select(norm_hash_col().alias("nh"),
                     F.struct("doc_id", "lang", "n_chars").alias("s"))
            .groupBy("nh").agg(F.min("s").alias("s")))


def _curation_merged(partial: DataFrame, prev: DataFrame) -> DataFrame:
    """Min-merge of a batch partial into the survivor state: the same
    per-hash struct-min, which is ASSOCIATIVE, COMMUTATIVE and
    IDEMPOTENT — a replayed epoch re-merging its own partial cannot
    change the state, so the job is exactly-once without a
    transaction log, and arrival order cannot change which doc_id
    survives (unlike dropDuplicates' keep-first)."""
    return (prev.unionByName(partial)
            .groupBy("nh").agg(F.min("s").alias("s")))


def _curation_survivors(state: DataFrame) -> DataFrame:
    """The survivor rows (doc_id, lang, n_chars) of a curation state."""
    return state.select(F.col("s.doc_id").alias("doc_id"),
                        F.col("s.lang").alias("lang"),
                        F.col("s.n_chars").alias("n_chars"))


def run_curation_ingest_stream(spark: SparkSession, sf_dir: str):
    """Stream the documents table through the curation endgame's
    first two stages — exact-integer quality filter + normalized
    exact dedup keeping the SMALLEST doc_id — maintaining the
    survivor set as a content-hash-keyed state table merged once per
    micro-batch (foreachBatch + struct-min, the
    run_sketch_maintenance_stream landing pattern).

    Because the merge is a per-key MIN, the final state equals the
    batch twin's result for EVERY arrival order — which is what
    makes this oracle-gatable: the DuckDB oracle recomputes the
    batch stages, and the stream must match bit-for-bit however the
    file source happened to batch the input.

    Scale note, stated not hidden: this state table is one row per
    distinct content hash (corpus-keyed, unlike the sketch job's
    O(types) state), and the foreachBatch read-merge-rewrite costs
    O(|state|) per batch. At 100 TB the same min-merge runs as a
    storage-side keyed MERGE INTO (Delta/Iceberg upsert) or the
    RocksDB per-key state of q_streaming_lsh_state — the dedup
    ALGEBRA (idempotent struct-min per content hash) is the
    engine-portable part this job pins. Returns (survivors_df,
    n_batches)."""
    with split_file_source(spark, sf_dir, "documents", 4) \
            as (stream, work, _):
        state = os.path.join(work, "state")
        epochs = run_foreach_batch(spark, stream, lambda b, _: (
            _overwrite_state(_curation_partial(b), _curation_merged, state)))
        out = _curation_survivors(spark.read.parquet(state)) \
            .localCheckpoint(eager=True)
        return out, len(epochs)


@register(
    "q_streaming_curation_ingest",
    oracle="""
    WITH tok AS (
        SELECT doc_id, lang, n_chars, text,
               list_filter(regexp_split_to_array(text, '[^a-z0-9]+'),
                           x -> x <> '') AS w
        FROM documents),
    f AS (
        SELECT doc_id, lang, n_chars, text,
               LEAST(n_chars, 400) AS nc, len(w) AS nw,
               len(list_filter(w, x -> list_contains(
                   ['the','a','of','to','and','in','is'], x))) AS ns,
               len(list_distinct(w)) AS nd
        FROM tok),
    q AS (
        SELECT doc_id, lang, n_chars, text FROM f
        WHERE nw >= 3 AND 4*nc*nw + 1200*(ns+nd) >= 2000*nw)
    SELECT doc_id, lang, n_chars FROM q
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY md5(trim(regexp_replace(regexp_replace(
            lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))
        ORDER BY doc_id) = 1
    """,
    tags=("streaming", "curation", "dedup", "quality", "incremental"),
)
def q_streaming_curation_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming curation ingest (run_curation_ingest_stream):
    quality filter + normalized exact dedup maintained incrementally
    over a document stream, FULL equality oracle against the batch
    stages — the struct-min merge makes the stream's survivor set
    arrival-order-invariant, so the DuckDB recomputation must match
    bit-for-bit."""
    out, _ = run_curation_ingest_stream(spark, sf_dir)
    return out


@register_audit_plan(
    "q_streaming_curation_ingest",
    note="epoch 2's merge plan (_curation_partial + _curation_merged, "
         "the factored foreachBatch body — no duplicated logic): one "
         "half of the corpus quality-filtered + hash-min-reduced and "
         "merged into an epoch-1 state built the same way")
def _q_curation_ingest_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _curation_survivors(_epoch2_merge_plan(
        load_table(spark, sf_dir, "documents"), "doc_id",
        _curation_partial, _curation_merged))
