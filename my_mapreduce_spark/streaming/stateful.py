"""Custom stateful streaming operators (SURVEY.md §2C streaming).

Two source-and-state surfaces the streaming family had not yet
pinned:

- ``applyInPandasWithState`` — the arbitrary-stateful-processing API
  the north star names for custom operators Spark's built-in
  windows can't express: user code owns a typed per-key state row
  across micro-batches (GroupState), Arrow-batched like every other
  pandas surface in this library.
- multi-source UNION — two independent ``readStream`` sources
  combined into one logical stream before a stateful aggregation
  (the production shape for merging regional Kafka topics / landing
  dirs into one pipeline).

Both run to completion under ``availableNow`` and are oracle-gated
against their batch twins: the state merge (count/sum/max) is
associative and commutative, so micro-batch boundaries cannot change
the final answer — exactly the determinism argument the rest of
streaming/jobs.py uses.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from my_mapreduce_spark.io import _ensure_runtime_confs, normalize_event_ts
from my_mapreduce_spark.registry import register
from my_mapreduce_spark.streaming.jobs import (_file_stream, _run_to_memory,
                                               _work_dir, split_file_source)


PROFILE_OUT = ("user_id bigint, n_events bigint, "
               "sum_cents bigint, max_ts_us bigint")
PROFILE_STATE = "n bigint, sc bigint, mx bigint"


def make_profile_updater():
    """The applyInPandasWithState transition function for the per-user
    running profile (count, exact-cents sum, max timestamp): folds the
    batch's Arrow chunks into the restored GroupState and emits the
    updated row. Module-level so the checkpoint-restart test
    (tests/test_stateful_counts_restart.py) can drive the SAME
    function through a kill/restart cycle."""
    import pandas as pd

    def update(key, pdfs, state):
        n, sc, mx = state.get if state.exists else (0, 0, None)
        for pdf in pdfs:
            if not len(pdf):
                continue
            n += len(pdf)
            sc += int(pdf["cents"].sum())
            m = int(pdf["ts_us"].max())
            mx = m if mx is None else max(mx, m)
        state.update((n, sc, mx))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                            "sum_cents": [sc], "max_ts_us": [mx]})

    return update


def run_stateful_counts_stream(spark: SparkSession, sf_dir: str):
    """Per-user running profile via ``applyInPandasWithState``: the
    state row (n, sum-cents, max-ts) lives in the state store keyed
    by user; every micro-batch the function receives ONLY that
    user's new Arrow batches plus its GroupState, folds them in, and
    emits the updated row (update output mode).

    The final emission per user — the one with the largest n, since
    a key's count strictly grows in every batch that touches it —
    must equal the batch GROUP BY exactly (count/sum/max are
    associative+commutative), which is this query's oracle.

    Scale shape: state is one 3-long row per user in the state store
    (RocksDB-backed on a real cluster), emissions are per-touched-key
    per-batch, and nothing driver-side ever sees more than the final
    O(users) relation. This is the API for operators with
    genuinely per-key custom transition logic; where the fold is a
    plain aggregate (as here) the built-in windowed agg is the
    simpler twin — registering both pins the equivalence.

    Returns (profile_df, n_batches).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    with split_file_source(spark, sf_dir, "events", 4) \
            as (stream, _, n_batches):
        ev = normalize_event_ts(stream).select(
            "user_id",
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
            F.expr("ts_ns DIV 1000").alias("ts_us"))

        out = ev.groupBy("user_id").applyInPandasWithState(
            make_profile_updater(),
            outputStructType=PROFILE_OUT,
            stateStructType=PROFILE_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout)
        emitted = _run_to_memory(spark, out, "stateful_counts", "update")

        # the memory sink holds every per-batch emission; keep each
        # user's FINAL one (strictly-largest n_events) and render the
        # exact cents as value units
        w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
        final = (emitted
                 .withColumn("rn", F.row_number().over(w))
                 .where(F.col("rn") == 1)
                 .select("user_id", "n_events",
                         (F.col("sum_cents") / 100.0).alias("sum_value"),
                         "max_ts_us"))
        return final, n_batches


@register(
    "q_streaming_stateful_counts",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS sum_value,
           CAST(MAX(epoch_us(ts)) AS BIGINT) AS max_ts_us
    FROM events GROUP BY user_id
    """,
    tags=("streaming", "stateful", "applyInPandasWithState", "events"),
)
def q_streaming_stateful_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful processing (applyInPandasWithState) over a
    4-batch event stream: per-user running (count, exact-cents sum,
    max timestamp) state, final state oracle-equal to the batch
    GROUP BY — the custom-stateful-operator surface the north star
    names, previously unexercised."""
    out, _ = run_stateful_counts_stream(spark, sf_dir)
    return out


def run_union_sources_stream(spark: SparkSession, sf_dir: str):
    """UNION of two independent streaming sources into one stateful
    aggregation: events hash-split into two landing directories, each
    read by its OWN readStream (two sources, two progress trackers —
    the merge-two-Kafka-topics shape), unioned before a per-type
    count/sum aggregate in complete mode.

    Spark unions the sources at the logical level: each micro-batch
    takes whatever both sources have available, and the downstream
    aggregate's commutativity makes the final table independent of
    which source delivered first — so the batch per-type aggregate
    is an exact oracle. State is O(event types); per-batch work is
    one map-side partial per source partition.

    Returns (per_type_df, n_sources).
    """
    _ensure_runtime_confs(spark)
    with _work_dir("union_sources") as work:
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        a_dir, b_dir = os.path.join(work, "a"), os.path.join(work, "b")
        ev.where(F.expr("user_id % 2 = 0")) \
            .write.mode("overwrite").parquet(a_dir)
        ev.where(F.expr("user_id % 2 = 1")) \
            .write.mode("overwrite").parquet(b_dir)
        schema = spark.read.parquet(a_dir).schema
        unioned = _file_stream(spark, a_dir, schema).unionByName(
            _file_stream(spark, b_dir, schema))
        evn = normalize_event_ts(unioned)
        # (no COUNT DISTINCT here: streaming aggs forbid it — the
        # mergeable-sketch q_streaming_sketch_state is that operator)
        agg = (evn.groupBy("event_type")
               .agg(F.count(F.lit(1)).alias("n_events"),
                    F.sum(F.round(F.col("value") * 100).cast("bigint"))
                    .alias("sc"))
               .select("event_type", "n_events",
                       (F.col("sc") / 100.0).alias("sum_value")))
        out = _run_to_memory(spark, agg, "union_sources", "complete")
        return out, 2


@register(
    "q_streaming_union_sources",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS sum_value
    FROM events GROUP BY event_type
    """,
    tags=("streaming", "union", "multi-source", "events"),
)
def q_streaming_union_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two readStream sources (hash-split landing dirs) unioned into
    one per-type aggregate — the multi-topic merge shape — oracle-
    equal to the batch aggregate over the union (nothing lost or
    double-read across sources)."""
    out, _ = run_union_sources_stream(spark, sf_dir)
    return out


# ---------------------------------------------------------------------------
# Streaming near-dup via a STATEFUL LSH band index (round-11 ask):
# the production "dedup the incoming crawl against the corpus" shape,
# with the accumulated band index living in the streaming STATE STORE
# (RocksDB-backed on a real cluster) instead of a side parquet table
# (q_streaming_near_dup's foreachBatch variant).

LSH_OUT = "doc_a long, doc_b long, n_matches long, est_jaccard double"
LSH_STATE = "doc_ids array<bigint>, sigs array<string>"


def lsh_band_rows(stream: DataFrame) -> DataFrame:
    """Stateless per-row signing as pure JVM expressions: 9-component
    md5 MinHash + 3 band hashes per document, REPLICATING the batch
    path bit-for-bit (same tokenizer regex, same 3-word shingles as
    dedup._shingle_rows, the md5('<seed>|'||shingle) string-min of
    dedup._minhash_sig, the md5(m3j||m3j+1||m3j+2) band hash of
    dedup._band_hashes, the (doc_id, band_idx, band_hash) rows of
    dedup._band_rows — pinned row for row by
    tests/test_streaming_lsh_restart.py) so the stream's emitted pairs
    stay oracle-equal to the batch relation.

    The first cut was a mapInPandas loop calling hashlib.md5 once per
    (seed, shingle) — ~1.9M Python md5 calls + f-string builds at
    sf0.1, the dominant wall of the whole stream (optimization guide
    §4.1: prefer built-ins; the plan audit showed the signing stage
    as the one MapInPandas node in the pipeline). Signing needs no
    aggregation — each MinHash component is ``array_min`` over the
    row's own shingle array (min over the duplicated shingle LIST
    equals min over the distinct set, so no distinct is needed) —
    which keeps the transform STATELESS, the API precondition for
    feeding applyInPandasWithState (a streaming groupBy aggregation
    could not precede it; that is why the batch explode+agg shape
    cannot be reused here)."""
    from my_mapreduce_spark.functions.text import shingles, tokens
    from my_mapreduce_spark.queries.dedup import _BANDS, _N_MINHASH

    base = (stream.select("doc_id", tokens().alias("w"))
            .where(F.size("w") >= 3)
            .select("doc_id", shingles(F.col("w")).alias("sh")))

    def _component(seed: int):
        # single-arg lambda: a 2-arg lambda would make transform()
        # pass (element, index) and silently shadow the seed
        pre = F.lit(f"{seed}|")
        return F.array_min(F.transform(
            F.col("sh"), lambda s: F.md5(F.concat(pre, s))))

    sig = base.select(
        "doc_id",
        *[_component(i).alias(f"m{i}") for i in range(_N_MINHASH)])
    bands = F.array(*[
        F.struct(F.lit(j).cast("int").alias("band_idx"),
                 F.md5(F.concat(*[F.col(f"m{k}") for k in band]))
                 .alias("band_hash"))
        for j, band in enumerate(_BANDS)])
    return (sig.select(
                "doc_id",
                F.concat_ws("|", *[f"m{i}" for i in range(_N_MINHASH)])
                .alias("sig"),
                F.explode(bands).alias("bh"))
            .select("doc_id", "bh.band_idx", "bh.band_hash", "sig"))


def make_lsh_band_updater():
    """applyInPandasWithState transition fn for one LSH band bucket:
    state is the (doc_ids, signatures) of every document ever hashed
    into this (band_idx, band_hash) key; each arriving document is
    scored against the bucket's members (full 9-component agreement,
    >= _MIN_MATCHES emits the pair) and appended. Idempotent under
    micro-batch replay: a doc_id already in state is skipped, so a
    replayed epoch re-emits the identical rows and grows nothing.

    Module-level so tests/test_streaming_lsh_restart.py can drive the
    SAME function through a kill/restart cycle."""
    import pandas as pd

    from my_mapreduce_spark.queries.dedup import _MIN_MATCHES, _N_MINHASH

    def update(key, pdfs, state):
        ids, sigs = state.get if state.exists else ((), ())
        ids, sigs = list(ids), list(sigs)
        known = set(ids)
        new = []
        for pdf in pdfs:
            new.extend((int(d), s) for d, s in zip(pdf["doc_id"],
                                                   pdf["sig"]))
        new.sort()  # deterministic within-batch pair order
        out_a, out_b, out_n = [], [], []
        for did, sig in new:
            if did in known:   # replayed epoch: exactly-once append
                continue
            comps = sig.split("|")
            for oid, osig in zip(ids, sigs):
                n = sum(1 for a, b in zip(comps, osig.split("|"))
                        if a == b)
                if n >= _MIN_MATCHES:
                    out_a.append(min(oid, did))
                    out_b.append(max(oid, did))
                    out_n.append(n)
            ids.append(did)
            sigs.append(sig)
            known.add(did)
        state.update((ids, sigs))
        yield pd.DataFrame({
            "doc_a": out_a, "doc_b": out_b, "n_matches": out_n,
            "est_jaccard": [round(n / float(_N_MINHASH), 6)
                            for n in out_n]})

    return update


def run_lsh_state_stream(spark: SparkSession, sf_dir: str):
    """Streaming MinHash-LSH near-dup with the band index IN THE
    STATE STORE: documents arrive as file micro-batches, a stateless
    JVM expression transform signs each row and explodes it into its
    3 (band_idx, band_hash) keys, and applyInPandasWithState owns one state row
    per band bucket — the accumulated (doc_ids, signatures) of that
    inverted-index posting list. A new document is scored against
    exactly its colliding bucket members (never the corpus) the
    moment it arrives, so a pair is emitted in the micro-batch where
    its LATER member lands — the online "dedup the new crawl against
    everything seen so far" operator.

    vs q_streaming_near_dup (foreachBatch + side parquet index): that
    variant re-JOINS each batch against the full accumulated index
    relation; this one touches only the state rows the batch's band
    hashes address — per-batch work is O(batch x bucket occupancy),
    state access is keyed, and recovery is the state store's own
    checkpoint (RocksDB incremental on a cluster), not a rebuild.
    State per bucket is its collision list — the same skew bound as
    the batch LSH band join, and hot buckets page through RocksDB
    instead of executor heap.

    The union of emitted pairs across all batches, deduped across
    bands, converges to EXACTLY the batch q_dedup_minhash_lsh
    relation — the oracle. Returns (pairs_df, n_batches).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    with split_file_source(spark, sf_dir, "documents", 3,
                           columns=["doc_id", "text"]) \
            as (stream, _, n_batches):
        banded = lsh_band_rows(stream)
        out = banded.groupBy("band_idx", "band_hash") \
            .applyInPandasWithState(
                make_lsh_band_updater(),
                outputStructType=LSH_OUT,
                stateStructType=LSH_STATE,
                outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout)
        emitted = _run_to_memory(spark, out, "lsh_state", "append")
        # the same pair can surface from 2-3 bands: collapse
        return emitted.distinct(), n_batches


def _lsh_state_oracle() -> str:
    from my_mapreduce_spark.queries.dedup import _minhash_oracle

    return _minhash_oracle()


@register(
    "q_streaming_lsh_state",
    oracle=_lsh_state_oracle(),
    tags=("streaming", "stateful", "dedup", "near-dup", "minhash",
          "lsh", "applyInPandasWithState"),
)
def q_streaming_lsh_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming LSH near-dup: the band index lives in the
    state store (one state row per (band, hash) bucket), candidates
    are scored on arrival against their bucket only, and the
    accumulated pair set is oracle-equal to the batch
    q_dedup_minhash_lsh relation (see run_lsh_state_stream)."""
    out, _ = run_lsh_state_stream(spark, sf_dir)
    return out
