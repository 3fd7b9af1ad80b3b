"""Bucketed-table write path: pre-shuffle once, join forever free.

The reference shuffles every job (`mr/worker.go:125-153` rewrites the
JSON intermediate files on each run). For repeated joins/dedups over
the same corpus, Spark's answer is bucketing: write the table hash-
partitioned AND sorted by the join key (``bucketBy`` + ``sortBy`` via
``saveAsTable``), and every later equi-join or aggregation on that
key reads the bucket layout from the catalog and skips both the
Exchange and (with sortBy) the Sort — a one-time shuffle amortized
across every subsequent query. At 100 TB this is the difference
between re-shuffling the full fact table per run and never shuffling
it again.

``tests/test_bucketed.py`` asserts the join plan is actually
exchange-free on both sides (autoBroadcast disabled so the assert
can't be satisfied by a broadcast).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from my_mapreduce_spark.io import audit_workdir, load_table
from my_mapreduce_spark.registry import register, register_audit_plan

_N_BUCKETS = 8
_BUCKET_ROOT = os.path.join(tempfile.gettempdir(), "mmr_bucketed")


def _fixture_tag(sf_dir: str, table: str) -> str:
    """Cache tag for a derived layout of ``{sf_dir}/{table}.parquet``:
    the sf-dir basename PLUS a fingerprint of the source file's
    (size, mtime). Keying by basename alone served STALE sink data
    when a fixture was regenerated at the same path (round-8 advice
    seam) — the fingerprint makes regeneration produce a fresh cache
    key, so the _SUCCESS reuse check can only ever hit a layout
    derived from the bytes it claims to mirror."""
    import hashlib

    base = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    src = os.path.join(sf_dir, f"{table}.parquet")
    parts = []
    if os.path.isdir(src):
        for root, _dirs, files in os.walk(src):
            for fn in sorted(files):
                st = os.stat(os.path.join(root, fn))
                parts.append(f"{fn}:{st.st_size}:{st.st_mtime_ns}")
    elif os.path.exists(src):
        st = os.stat(src)
        parts.append(f"{st.st_size}:{st.st_mtime_ns}")
    fp = hashlib.sha1("|".join(parts).encode()).hexdigest()[:10]
    return f"{base}_{fp}"


def write_bucketed(spark: SparkSession, df: DataFrame, name: str,
                   n_buckets: int, *keys: str) -> DataFrame:
    """Persist ``df`` as an external parquet table bucketed and
    sorted by ``keys``, and return the catalog-backed read-back.

    The write performs the one-time shuffle (one file set per bucket);
    the catalog records (keys, n_buckets) so Catalyst plans later
    equi-joins/aggs on ``keys`` without an Exchange when both sides
    share the bucket spec."""
    path = os.path.join(_BUCKET_ROOT, name)
    (df.write.mode("overwrite").format("parquet")
     .bucketBy(n_buckets, *keys).sortBy(*keys)
     .option("path", path)
     .saveAsTable(name))
    return spark.table(name)


def bucketed_fixture(spark: SparkSession, sf_dir: str, table: str,
                     key: str, n_buckets: int = _N_BUCKETS) -> DataFrame:
    """Bucketed copy of a fixture table; the table name encodes the
    sf dir AND a (size, mtime) fingerprint of the source so different
    scale factors never alias and a regenerated fixture never serves
    a stale layout. If this session already wrote the table, reuse
    it — amortizing the one-time shuffle across queries is the
    entire point of bucketing."""
    tag = _fixture_tag(sf_dir, table)
    name = f"mmr_{table}_{key}_b{n_buckets}_{tag}"
    if spark.catalog.tableExists(name) \
            and os.path.isdir(os.path.join(_BUCKET_ROOT, name)):
        return spark.table(name)
    return write_bucketed(spark, load_table(spark, sf_dir, table),
                          name, n_buckets, key)


@register(
    "q_bucketed_join_noshuffle",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_items,
           ROUND(CAST(SUM(l_extendedprice * (1 - l_discount)) AS DOUBLE), 2)
               AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1
    """,
    tags=("bucketing", "join", "tpch"),
)
def q_bucketed_join_noshuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per order priority via a bucket-colocated join:
    ``lineitem`` and ``orders`` are first written bucketed+sorted on
    the order key (the one-time shuffle), then the fact-fact join
    reads both bucket layouts and needs no Exchange and no Sort —
    verified by plan assertion in tests/test_bucketed.py. Only the
    final small aggregation shuffles (one row per priority)."""
    li = bucketed_fixture(spark, sf_dir, "lineitem", "l_orderkey")
    orders = bucketed_fixture(spark, sf_dir, "orders", "o_orderkey")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_items"),
             F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
    )


# Z-order layout audit: 16-bit grid per dimension, top-8 z-bits as
# the file/bucket id (256 buckets).
_Z_BITS = 16
_Z_BUCKET_SHIFT = 2 * _Z_BITS - 8


def _z_interleave_sql(a: str, b: str, bits: int = _Z_BITS) -> str:
    """The Morton interleave as SQL — the same unrolled shift/mask
    term list my_mapreduce_spark.layout.zorder_value builds as Column
    expressions; terms touch disjoint bits so + == bitwise OR."""
    terms = [f"((({a} >> {i}) & 1) << {2 * i + 1})" for i in range(bits)]
    terms += [f"((({b} >> {i}) & 1) << {2 * i})" for i in range(bits)]
    return " + ".join(terms)


def _z_scale_sql(c: str, lo: str, hi: str, bits: int = _Z_BITS) -> str:
    top = (1 << bits) - 1
    return (f"LEAST({top}, CAST(FLOOR((CAST({c} AS DOUBLE) - {lo})"
            f" * {top} / GREATEST({hi} - {lo}, 1e-300)) AS BIGINT))")


@register(
    "q_zorder_layout",
    oracle=f"""
    WITH bounds AS (
        SELECT CAST(MIN(l_orderkey) AS DOUBLE) AS lo_a,
               CAST(MAX(l_orderkey) AS DOUBLE) AS hi_a,
               CAST(MIN(l_partkey) AS DOUBLE) AS lo_b,
               CAST(MAX(l_partkey) AS DOUBLE) AS hi_b
        FROM lineitem),
    g AS (
        SELECT {_z_scale_sql("l_orderkey", "lo_a", "hi_a")} AS ga,
               {_z_scale_sql("l_partkey", "lo_b", "hi_b")} AS gb
        FROM lineitem CROSS JOIN bounds),
    z AS (SELECT ga, gb,
                 ({_z_interleave_sql("ga", "gb")}) >> {_Z_BUCKET_SHIFT}
                     AS bucket
          FROM g)
    SELECT bucket, COUNT(*) AS n_rows,
           MIN(ga) AS min_a, MAX(ga) AS max_a,
           MIN(gb) AS min_b, MAX(gb) AS max_b,
           MAX(ga) - MIN(ga) AS span_a,
           MAX(gb) - MIN(gb) AS span_b
    FROM z GROUP BY bucket
    """,
    tags=("layout", "zorder", "pruning", "physical"),
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering audit over lineitem
    (l_orderkey, l_partkey): scale both keys onto a 16-bit grid,
    interleave the bits, and report per-bucket (top-8 z-bits = 256
    files) row counts and min/max bounds of BOTH dimensions — the
    footer statistics a lake would prune with, computed as a query.
    Small span_a AND span_b per bucket is the whole point of
    z-ordering: every file is a small hyper-rectangle, so a
    selective filter on EITHER column skips most files (a linear
    sort bounds one dimension and leaves the other full-range; see
    my_mapreduce_spark/layout.py and tests/test_zorder.py, which
    assert exactly that on real parquet footers).

    Engine shape: one 4-scalar aggregate for the bounds (broadcast
    back as literals via a cross join of a 1-row relation on the
    oracle side, driver literals on the Spark side — O(1) either
    way), then pure shift/mask arithmetic inside whole-stage codegen
    and ONE hash aggregate to 256 rows. No shuffle wider than the
    256-row result. The scale formula wraps FLOOR before the BIGINT
    cast because Spark's double->long cast truncates while DuckDB's
    rounds — the one cross-engine seam, designed out the same way
    as q_null_safe_join.

    Reference parity: none — the reference's only layout control is
    nReduce output files hashed by key (mr/worker.go:84); data
    layout for scan pruning is north-star 100 TB efficiency work.
    """
    from my_mapreduce_spark.layout import scale_to_bits, zorder_value

    li = load_table(spark, sf_dir, "lineitem") \
        .select("l_orderkey", "l_partkey")
    lo_a, hi_a, lo_b, hi_b = li.agg(
        F.min("l_orderkey"), F.max("l_orderkey"),
        F.min("l_partkey"), F.max("l_partkey")).first()
    if lo_a is None:  # empty table: typed empty result, not a crash
        return spark.createDataFrame(
            [], "bucket long, n_rows long, min_a long, max_a long, "
                "min_b long, max_b long, span_a long, span_b long")
    g = li.select(
        scale_to_bits(F.col("l_orderkey"), lo_a, hi_a, _Z_BITS).alias("ga"),
        scale_to_bits(F.col("l_partkey"), lo_b, hi_b, _Z_BITS).alias("gb"))
    z = g.select(
        "ga", "gb",
        F.shiftright(zorder_value(F.col("ga"), F.col("gb"), _Z_BITS),
                     _Z_BUCKET_SHIFT).alias("bucket"))
    return (z.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.min("ga").alias("min_a"), F.max("ga").alias("max_a"),
                 F.min("gb").alias("min_b"), F.max("gb").alias("max_b"),
                 (F.max("ga") - F.min("ga")).alias("span_a"),
                 (F.max("gb") - F.min("gb")).alias("span_b")))


_ZM_BUCKETS = 64
_ZM_D1 = "1994-01-01"
_ZM_D2 = "1994-04-01"


@register(
    "q_zonemap_skipping",
    oracle=f"""
    WITH bounds AS (
        SELECT MIN(l_shipdate) AS lo,
               datediff('day', MIN(l_shipdate), MAX(l_shipdate)) + 1
                   AS span
        FROM lineitem),
    b AS (
        SELECT 'clustered' AS layout,
               (datediff('day', lo, l_shipdate) * {_ZM_BUCKETS}) // span
                   AS bucket,
               l_shipdate
        FROM lineitem CROSS JOIN bounds
        UNION ALL
        SELECT 'scattered' AS layout,
               l_orderkey % {_ZM_BUCKETS} AS bucket,
               l_shipdate
        FROM lineitem),
    per AS (
        SELECT layout, bucket,
               MIN(l_shipdate) AS min_d, MAX(l_shipdate) AS max_d,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN l_shipdate >= DATE '{_ZM_D1}'
                              AND l_shipdate <  DATE '{_ZM_D2}'
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_match
        FROM b GROUP BY layout, bucket)
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(CASE WHEN max_d < DATE '{_ZM_D1}'
                          OR min_d >= DATE '{_ZM_D2}'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped,
           CAST(SUM(CASE WHEN max_d < DATE '{_ZM_D1}'
                          OR min_d >= DATE '{_ZM_D2}'
                         THEN n_rows ELSE 0 END) AS BIGINT)
               AS rows_skipped,
           CAST(SUM(n_rows) AS BIGINT) AS rows_total,
           CAST(SUM(n_match) AS BIGINT) AS rows_matching,
           ROUND(CAST(SUM(CASE WHEN max_d < DATE '{_ZM_D1}'
                                OR min_d >= DATE '{_ZM_D2}'
                               THEN n_rows ELSE 0 END) AS DOUBLE)
                 / SUM(n_rows), 6) AS row_skip_frac
    FROM per GROUP BY layout
    """,
    tags=("layout", "zonemap", "pruning", "physical"),
)
def q_zonemap_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max footer statistics) skipping audit: lay
    lineitem out two ways into 64 simulated files — CLUSTERED
    (equal-width l_shipdate range buckets, all-integer arithmetic:
    (days_since_min * 64) DIV span) and SCATTERED (l_orderkey mod
    64, the hash-ish layout you get by default) — record each
    file's min/max shipdate exactly as a parquet footer would, and
    measure how many files and rows a 3-month shipdate predicate
    could skip under each layout.

    This is the measurement behind every "sort your fact table"
    recommendation: the same rows, the same predicate, and the
    clustered layout skips ~(1 - selectivity) of files while the
    scattered one skips ~none because every file's min/max spans
    the whole date range. q_zorder_layout makes the
    two-dimensional version of this argument from span statistics;
    this query closes the loop by computing the actual skip counts
    a scan planner would achieve (tests/test_zorder.py asserts the
    same effect on REAL parquet footers — here it is a pure query,
    so it runs at any scale as one pass).

    Engine shape: one 2-scalar bounds aggregate (driver literals,
    same contract as q_zorder_layout), then a single scan fanned
    into both layouts by a union, one (layout, bucket) hash
    aggregate to 128 rows, one O(layouts) rollup. Dates never
    leave the plan (compared, not emitted), so there is no
    date-serialization seam.

    Reference parity: none — layout control in the reference is
    nReduce hash files (mr/worker.go:84); north-star scan-pruning
    efficiency work.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate")
    lo, hi = li.agg(F.min("l_shipdate"), F.max("l_shipdate")).first()
    if lo is None:  # empty table: typed empty result, not a crash
        return spark.createDataFrame(
            [], "layout string, n_buckets bigint, n_skipped bigint, "
                "rows_skipped bigint, rows_total bigint, "
                "rows_matching bigint, row_skip_frac double")
    span = (hi - lo).days + 1
    clustered = li.select(
        F.lit("clustered").alias("layout"),
        ((F.datediff("l_shipdate", F.lit(lo)) * _ZM_BUCKETS)
         .cast("long") / F.lit(span)).cast("long").alias("bucket"),
        "l_shipdate")
    scattered = li.select(
        F.lit("scattered").alias("layout"),
        (F.col("l_orderkey") % _ZM_BUCKETS).alias("bucket"),
        "l_shipdate")
    pred = ((F.col("l_shipdate") >= F.lit(_ZM_D1).cast("date"))
            & (F.col("l_shipdate") < F.lit(_ZM_D2).cast("date")))
    per = (clustered.unionAll(scattered)
           .groupBy("layout", "bucket")
           .agg(F.min("l_shipdate").alias("min_d"),
                F.max("l_shipdate").alias("max_d"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.when(pred, 1).otherwise(0)).alias("n_match")))
    skipped = ((F.col("max_d") < F.lit(_ZM_D1).cast("date"))
               | (F.col("min_d") >= F.lit(_ZM_D2).cast("date")))
    return (per.groupBy("layout")
            .agg(F.count(F.lit(1)).alias("n_buckets"),
                 F.sum(F.when(skipped, 1).otherwise(0))
                 .alias("n_skipped"),
                 F.sum(F.when(skipped, F.col("n_rows")).otherwise(0))
                 .alias("rows_skipped"),
                 F.sum("n_rows").alias("rows_total"),
                 F.sum("n_match").alias("rows_matching"),
                 F.round(F.sum(F.when(skipped, F.col("n_rows"))
                               .otherwise(0)).cast("double")
                         / F.sum("n_rows"), 6).alias("row_skip_frac")))


_SNAP_BUCKETS = 8
_SNAP_HOT = 3          # the one bucket v2 rewrites
_SNAP_ROOT = os.path.join(tempfile.gettempdir(), "mmr_snapshots")


@register(
    "q_snapshot_time_travel",
    oracle=f"""
    WITH v1 AS (
        SELECT 1 AS version,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0
                   AS sum_totalprice
        FROM orders),
    v2 AS (
        SELECT 2 AS version,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               SUM(CASE WHEN o_orderkey % {_SNAP_BUCKETS}
                                   = {_SNAP_HOT}
                              AND o_orderkey % 2 = 1
                              THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) * 2
                              ELSE CAST(ROUND(o_totalprice * 100) AS BIGINT)
                   END) / 100.0
                   AS sum_totalprice
        FROM orders)
    SELECT * FROM v1 UNION ALL SELECT * FROM v2
    """,
    tags=("storage", "snapshot", "time-travel", "mvcc"),
)
def q_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over a manifest-based MVCC table
    (my_mapreduce_spark/snapshots.py): v1 commits orders bucketed 8
    ways on o_orderkey; v2 is a COPY-ON-WRITE update (doubling
    o_totalprice for odd keys of bucket 3) that rewrites
    ONLY that bucket's files — the other 7 paths are carried into
    the v2 manifest byte-identical, and v1 stays readable forever
    because data files are immutable and a version is just a JSON
    manifest published atomically (temp-write + os.replace). The
    query time-travel-reads BOTH versions and aggregates each; the
    oracle recomputes both states from the source table, so the
    match proves the store round-trips every row through the
    rewrite. File-level guarantees (7/8 shared paths, v1 bytes
    untouched, atomic publish) are pinned in
    tests/test_snapshots.py.

    Scale shape: the commit writes are one partitionBy pass (v1)
    and one single-bucket pass (v2) — copy-on-write cost tracks the
    UPDATE size, not the table size, which is the entire point of
    manifest MVCC at 100 TB (the alternative, in-place truncation,
    is the reference's O_TRUNC rewrite at mr/worker.go:132 — one
    version, destroyed on crash). Reads are plain parquet scans of
    the manifest's paths — all pushdown/pruning applies. Reference
    parity: upgrade of mr/worker.go:190-207's overwrite-only sink;
    north-star storage depth next to q_zorder_layout and
    q_zonemap_skipping.
    """
    from my_mapreduce_spark.snapshots import SnapshotStore

    orders = load_table(spark, sf_dir, "orders")
    if orders.limit(1).count() == 0:
        return spark.createDataFrame(
            [], "version int, n_rows bigint, sum_totalprice double")
    root = os.path.join(
        _SNAP_ROOT, os.path.basename(os.path.normpath(sf_dir)))
    store = SnapshotStore(root)
    bucketed = orders.withColumn(
        "o_bucket", (F.col("o_orderkey") % _SNAP_BUCKETS).cast("int"))
    store.commit_full(bucketed, 1, "o_bucket")
    updated = bucketed.withColumn(
        "o_totalprice",
        F.when((F.col("o_bucket") == _SNAP_HOT)
               & (F.col("o_orderkey") % 2 == 1),
               F.col("o_totalprice") * 2).otherwise(F.col("o_totalprice")))
    store.commit_rewrite(updated, 2, 1, "o_bucket", [_SNAP_HOT])
    outs = []
    for v in (1, 2):
        # exact bigint cents (o_totalprice is 2-decimal by contract):
        # the float SUM's last-ulp landed on a ROUND boundary at sf0.1
        outs.append(
            store.read(spark, v).agg(
                F.lit(v).alias("version"),
                F.count(F.lit(1)).alias("n_rows"),
                (F.sum(F.round(F.col("o_totalprice") * 100)
                       .cast("bigint")) / 100.0)
                .alias("sum_totalprice")))
    return outs[0].unionByName(outs[1])


_H_BITS = 8                      # Hilbert grid: 8 bits per dimension
_H_BUCKET_SHIFT = 2 * _H_BITS - 8  # top-8 curve bits = 256 buckets


def _hilbert_steps():
    """The xy2d Hilbert walk (Wikipedia's canonical loop) unrolled
    over the 8 grid bits, highest first: per step, quadrant digit
    (3*rx XOR ry) appends to d, then the (flip, swap) rotation
    renormalizes the frame. Returned as (s, ...) step list shared by
    the SQL generator and the Column generator so both engines run
    the LITERAL same recurrence."""
    return [1 << i for i in range(_H_BITS - 1, -1, -1)]


def _hilbert_sql(x: str, y: str) -> str:
    """Chained-CTE-free single-expression unroll: nested CASE terms
    via LATERAL-style reuse is overkill at 8 steps — instead emit
    one flat SELECT chain of step CTEs."""
    steps = []
    px, py, pd = x, y, "0"
    for i, s in enumerate(_hilbert_steps()):
        rx = f"(CASE WHEN ({px} & {s}) > 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN ({py} & {s}) > 0 THEN 1 ELSE 0 END)"
        steps.append(
            f"h{i} AS (SELECT *, "
            f"{rx} AS rx{i}, {ry} AS ry{i}, "
            f"{pd} + {s * s} * xor(3 * {rx}, {ry}) AS d{i}, "
            f"CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1 "
            f"THEN {s - 1} - {py} ELSE {py} END) ELSE {px} END AS x{i}, "
            f"CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1 "
            f"THEN {s - 1} - {px} ELSE {px} END) ELSE {py} END AS y{i} "
            f"FROM h{i - 1})" if i else
            f"h0 AS (SELECT *, "
            f"{rx} AS rx0, {ry} AS ry0, "
            f"{s * s} * xor(3 * {rx}, {ry}) AS d0, "
            f"CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1 "
            f"THEN {s - 1} - {py} ELSE {py} END) ELSE {px} END AS x0, "
            f"CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1 "
            f"THEN {s - 1} - {px} ELSE {px} END) ELSE {py} END AS y0 "
            f"FROM g)")
        px, py, pd = f"x{i}", f"y{i}", f"d{i}"
    return ", ".join(steps), pd


def _hilbert_frame(df: DataFrame, xcol: str, ycol: str) -> DataFrame:
    """The same unrolled recurrence as a chain of NAMED projections
    (one select per step, mirroring the oracle's CTE chain). Naming
    each step's (x, y, d) matters: substituting the x/y expressions
    symbolically doubles the tree per step — the first cut did, and
    the 2^8 codegen blowup cost ~170 s where this runs in ~2 s.
    Still pure whole-stage-codegen arithmetic; no UDF."""
    df = df.withColumn("_hd", F.lit(0).cast("long"))
    x, y, d = xcol, ycol, "_hd"
    for i, s in enumerate(_hilbert_steps()):
        rx = F.when(F.col(x).bitwiseAND(F.lit(s)) > 0, 1).otherwise(0)
        ry = F.when(F.col(y).bitwiseAND(F.lit(s)) > 0, 1).otherwise(0)
        df = df.withColumns({f"_rx{i}": rx, f"_ry{i}": ry})
        rxc, ryc = F.col(f"_rx{i}"), F.col(f"_ry{i}")
        df = df.withColumns({
            f"_hd{i}": F.col(d) + F.lit(s * s)
            * (rxc * 3).bitwiseXOR(ryc),
            f"_hx{i}": F.when(ryc == 0,
                              F.when(rxc == 1, F.lit(s - 1) - F.col(y))
                              .otherwise(F.col(y))).otherwise(F.col(x)),
            f"_hy{i}": F.when(ryc == 0,
                              F.when(rxc == 1, F.lit(s - 1) - F.col(x))
                              .otherwise(F.col(x))).otherwise(F.col(y)),
        })
        x, y, d = f"_hx{i}", f"_hy{i}", f"_hd{i}"
    return df.withColumn("_hilbert", F.col(d))


def _hilbert_oracle() -> str:
    ctes, dfinal = _hilbert_sql("ga", "gb")
    return f"""
    WITH bounds AS (
        SELECT CAST(MIN(l_orderkey) AS DOUBLE) AS lo_a,
               CAST(MAX(l_orderkey) AS DOUBLE) AS hi_a,
               CAST(MIN(l_partkey) AS DOUBLE) AS lo_b,
               CAST(MAX(l_partkey) AS DOUBLE) AS hi_b
        FROM lineitem),
    g AS (
        SELECT {_z_scale_sql("l_orderkey", "lo_a", "hi_a", _H_BITS)} AS ga,
               {_z_scale_sql("l_partkey", "lo_b", "hi_b", _H_BITS)} AS gb
        FROM lineitem CROSS JOIN bounds),
    {ctes},
    z AS (SELECT ga, gb, {dfinal} >> {_H_BUCKET_SHIFT} AS bucket
          FROM h{_H_BITS - 1})
    SELECT bucket, COUNT(*) AS n_rows,
           MIN(ga) AS min_a, MAX(ga) AS max_a,
           MIN(gb) AS min_b, MAX(gb) AS max_b,
           MAX(ga) - MIN(ga) AS span_a,
           MAX(gb) - MIN(gb) AS span_b
    FROM z GROUP BY bucket
    """


@register(
    "q_hilbert_layout",
    oracle=_hilbert_oracle(),
    tags=("layout", "hilbert", "pruning", "physical"),
)
def q_hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering audit over lineitem (l_orderkey,
    l_partkey) — the same per-bucket footer-statistics readout as
    q_zorder_layout, on the space-filling curve that Iceberg's
    Hilbert clustering and Databricks liquid clustering prefer:
    unlike Morton order, consecutive Hilbert positions are always
    grid-adjacent (no diagonal jumps across the key space), so
    bucket hyper-rectangles stay tighter and range filters skip
    more files. Both keys scale onto an 8-bit grid; the canonical
    xy2d recurrence (quadrant digit + frame rotation per bit,
    highest bit first) is UNROLLED — 8 steps of pure CASE/bit
    arithmetic inside whole-stage codegen on the Spark side and the
    literally same steps as chained CTEs in the DuckDB oracle —
    then one hash aggregate to the 256-bucket audit.

    Engine shape: identical to q_zorder_layout — a 4-scalar bounds
    aggregate, codegen arithmetic, one 256-row aggregate; no
    shuffle wider than the result. Reference parity: none — layout
    for scan pruning is north-star 100 TB efficiency work
    (tests/test_hilbert.py asserts adjacency: consecutive curve
    positions differ by exactly one grid step, the property Morton
    lacks).
    """
    li = load_table(spark, sf_dir, "lineitem") \
        .select("l_orderkey", "l_partkey")
    lo_a, hi_a, lo_b, hi_b = li.agg(
        F.min("l_orderkey"), F.max("l_orderkey"),
        F.min("l_partkey"), F.max("l_partkey")).first()
    if lo_a is None:  # empty table: typed empty result, not a crash
        return spark.createDataFrame(
            [], "bucket long, n_rows long, min_a long, max_a long, "
                "min_b long, max_b long, span_a long, span_b long")
    from my_mapreduce_spark.layout import scale_to_bits

    g = li.select(
        scale_to_bits(F.col("l_orderkey"), lo_a, hi_a, _H_BITS).alias("ga"),
        scale_to_bits(F.col("l_partkey"), lo_b, hi_b, _H_BITS).alias("gb"))
    z = _hilbert_frame(g, "ga", "gb").select(
        "ga", "gb",
        F.shiftright(F.col("_hilbert"), _H_BUCKET_SHIFT).alias("bucket"))
    return (z.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.min("ga").alias("min_a"), F.max("ga").alias("max_a"),
                 F.min("gb").alias("min_b"), F.max("gb").alias("max_b"),
                 (F.max("ga") - F.min("ga")).alias("span_a"),
                 (F.max("gb") - F.min("gb")).alias("span_b")))




_PART_ROOT = os.path.join(tempfile.gettempdir(), "mmr_partitioned")


def partitioned_events(spark: SparkSession, sf_dir: str) -> str:
    """Write the events table as a Hive-partitioned parquet layout
    (``event_type=<v>/`` directories) once per sf dir and return its
    path. Immutable fixtures → safe to reuse within a session (the
    same amortization argument as bucketed_fixture)."""
    tag = _fixture_tag(sf_dir, "events")
    path = os.path.join(_PART_ROOT, f"events_by_type_{tag}")
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        (load_table(spark, sf_dir, "events")
         .withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
         .write.mode("overwrite").partitionBy("event_type")
         .parquet(path))
    return path


@register(
    "q_partitioned_write_prune",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           COUNT(*) AS n_events,
           SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS sum_value
    FROM events WHERE event_type = 'purchase'
    GROUP BY 1
    """,
    tags=("sink", "partitioning", "pruning", "events"),
)
def q_partitioned_write_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet SINK + partition-pruned read-back: events
    are written once as a Hive layout partitioned by event_type; the
    query then reads ONLY the ``event_type=purchase/`` directory —
    the filter resolves at PLANNING time against the directory
    listing (PartitionFilters, not data filters), so the scan never
    opens the other types' files. The oracle aggregates the original
    un-partitioned table — equality proves the sink round-trips
    exactly.

    This is the physical pattern behind every date/type-partitioned
    production table at 100 TB: partition pruning turns a full-corpus
    scan into an O(selected partitions) scan before a single row is
    read. tests/test_partitioned_sink.py asserts the plan shows the
    pruned PartitionFilters and a partitionCount of 1.
    """
    path = partitioned_events(spark, sf_dir)
    # explicit schema: a zero-row source writes only _SUCCESS (no
    # partition dirs), where schema inference has nothing to read —
    # the layout schema is the source's minus the partition column,
    # plus the derived day string, plus event_type back as the
    # partition column
    base = load_table(spark, sf_dir, "events") \
        .withColumn("day", F.date_format("ts", "yyyy-MM-dd")) \
        .drop("event_type").schema.add("event_type", "string")
    ev = spark.read.schema(base).parquet(path)
    return (ev.where(F.col("event_type") == "purchase")
            .groupBy("day")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 (F.sum(F.round(F.col("value") * 100).cast("bigint")) / 100.0).alias("sum_value")))


_CSV_ROOT = os.path.join(tempfile.gettempdir(), "mmr_csv")


@register(
    "q_csv_roundtrip",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           MIN(strftime(ts, '%Y-%m-%d %H:%M:%S.%f')) AS first_ts,
           MAX(strftime(ts, '%Y-%m-%d %H:%M:%S.%f')) AS last_ts
    FROM events GROUP BY event_type
    """,
    tags=("sink", "source", "csv", "text-format", "events"),
)
def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV SINK + SOURCE round trip with the classic traps armed:
    events (timestamps with microsecond precision, doubles, strings
    with JSON braces/quotes in ``props``) are written as headered
    CSV and read back with an EXPLICIT schema and timestampFormat —
    then aggregated; equality against the oracle over the ORIGINAL
    parquet proves no row, microsecond, quote, or decimal digit was
    lost in the text round trip.

    The traps, each pinned by the equality: microsecond timestamps
    (default CSV format truncates to seconds — an explicit
    timestampFormat with .SSSSSS carries them), quoted JSON values
    (embedded quotes escape correctly), and value→cents integer
    accumulation so the comparison is float-seam-free. Scale shape:
    CSV write/read are full distributed passes (one file per
    partition); the aggregate is the usual map-side partial. CSV is
    ~3x parquet bytes and column-prune-blind — the docstring IS the
    argument for parquet landing; this query pins that the text
    interchange path is nevertheless lossless when schemas are
    explicit.
    """
    ev = load_table(spark, sf_dir, "events")
    tag = _fixture_tag(sf_dir, "events")
    path = os.path.join(_CSV_ROOT, f"events_{tag}")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        (ev.select("event_id", "ts", "user_id", "event_type", "value",
                   "props")
         .write.mode("overwrite").option("header", True)
         .option("timestampFormat", fmt).csv(path))
    back = (spark.read.schema("event_id long, ts timestamp, user_id long, "
                              "event_type string, value double, "
                              "props string")
            .option("header", True).option("timestampFormat", fmt)
            .csv(path))
    return (back.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.round(F.col("value") * 100).cast("bigint"))
                 .alias("sum_cents"),
                 F.date_format(F.min("ts"), fmt).alias("first_ts"),
                 F.date_format(F.max("ts"), fmt).alias("last_ts")))


@register(
    "q_schema_evolution_merge",
    oracle="""
    SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END
               AS o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM orders
    GROUP BY 1
    """,
    tags=("source", "schema-evolution", "mergeSchema", "parquet"),
)
def q_schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA EVOLUTION read (``mergeSchema``): two generations of
    the same table — v1 written WITHOUT ``o_orderpriority``, v2 with
    it — land in one directory tree, and a single read reconciles
    them into the union schema with NULLs where v1 predates the
    column. That is the lakehouse reality at 100 TB: a column added
    in March must not force a rewrite of January's petabytes, and
    readers must see one coherent schema across generations.

    The read uses ``recursiveFileLookup`` (generation dirs are not
    hive key=value partitions) + ``mergeSchema=true`` (per-file
    footer schemas reconciled at planning time; the cost is one
    footer read per file, not a data scan). The oracle states the
    same result over the ORIGINAL table with the column nulled for
    v1-parity rows — equality proves no row, value, or NULL was
    invented or lost across generations."""
    import shutil

    work = tempfile.mkdtemp(prefix="mmr_schema_evo_")
    try:
        out = _schema_evolution_merge(spark, sf_dir, work)
        # materialize before the generation dirs are removed
        return spark.createDataFrame(out.toPandas(), out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _schema_evolution_merge(spark: SparkSession, sf_dir: str,
                            work: str) -> DataFrame:
    """Write the two order generations under ``work`` and aggregate
    their mergeSchema read-back."""
    o = load_table(spark, sf_dir, "orders")
    (o.where(F.expr("o_orderkey % 2 = 0"))
     .select("o_orderkey", "o_custkey", "o_totalprice")
     .write.mode("overwrite").parquet(os.path.join(work, "gen1")))
    (o.where(F.expr("o_orderkey % 2 = 1"))
     .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
     .write.mode("overwrite").parquet(os.path.join(work, "gen2")))
    merged = (spark.read.option("mergeSchema", "true")
              .option("recursiveFileLookup", "true").parquet(work))
    return (merged.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum(F.round(F.col("o_totalprice") * 100)
                       .cast("bigint")).alias("sum_cents")))


@register_audit_plan(
    "q_schema_evolution_merge",
    note="the mergeSchema read-back aggregate over freshly written "
         "generation dirs — the query's only corpus-scale plan; the "
         "shipped fn materializes it before removing the dirs, so the "
         "audit writes its own generations and leaves them for the "
         "plan's lifetime (tool-context temp dir).")
def _q_schema_evo_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _schema_evolution_merge(spark, sf_dir,
                                   audit_workdir("q_schema_evolution_merge"))


_COMPACT_TARGET_FILES = 4


@register(
    "q_compaction_roundtrip",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           bit_xor(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT))
               AS content_xxh
    FROM documents GROUP BY source
    """,
    tags=("sink", "compaction", "small-files", "maintenance"),
)
def q_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMALL-FILE COMPACTION — the table-maintenance job every
    100 TB lake runs nightly: a fragmented landing (here: documents
    deliberately scattered across 64 files, the streaming-ingest
    pathology) is rewritten into _COMPACT_TARGET_FILES files via one
    round-robin repartition, and the read-back is checksummed per
    source against the ORIGINAL table — bit_xor of a 60-bit md5
    prefix per document, an order-insensitive content digest both
    engines compute identically — proving compaction moved bytes,
    not data.

    Why it matters: a 100 TB table fragmented into 10-million 10 MB
    files pays NameNode/listing latency, footer overhead, and
    1-file=1-task scheduling on every read; compacting to
    128-512 MB files is the single highest-leverage maintenance op.
    File counts before/after are asserted in
    tests/test_compaction.py (64 -> _COMPACT_TARGET_FILES); this
    query's oracle pins the content-preservation half of the
    contract."""
    import shutil

    work = tempfile.mkdtemp(prefix="mmr_compact_")
    try:
        out = _compaction_roundtrip(spark, sf_dir, work)
        # materialize before the temp dirs vanish
        return spark.createDataFrame(out.toPandas(), out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _compaction_roundtrip(spark: SparkSession, sf_dir: str,
                          work: str) -> DataFrame:
    """Fragment the documents under ``work``, compact them and
    checksum the compacted read-back per source."""
    docs = load_table(spark, sf_dir, "documents")
    frag = os.path.join(work, "frag")
    compact = os.path.join(work, "compact")
    docs.repartition(64).write.mode("overwrite").parquet(frag)
    (spark.read.parquet(frag)
     .repartition(_COMPACT_TARGET_FILES)
     .write.mode("overwrite").parquet(compact))
    h = F.expr("CAST(conv(substring(md5(text), 1, 15), 16, 10) AS BIGINT)")
    return (spark.read.parquet(compact)
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.bit_xor(h).alias("content_xxh")))


@register_audit_plan(
    "q_compaction_roundtrip",
    note="the post-compaction read-back checksum aggregate — the "
         "maintenance job's verification plan (the writes themselves "
         "are repartition passes with no join/window surface); dirs "
         "written fresh and left for the plan's lifetime.")
def _q_compaction_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _compaction_roundtrip(spark, sf_dir,
                                 audit_workdir("q_compaction_roundtrip"))


_XML_ROOT = os.path.join(tempfile.gettempdir(), "mmr_xml")


@register(
    "q_xml_roundtrip",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           strftime(MIN(CAST(o_orderdate AS DATE)), '%Y-%m-%d')
               AS first_date,
           strftime(MAX(CAST(o_orderdate AS DATE)), '%Y-%m-%d')
               AS last_date
    FROM orders GROUP BY o_orderstatus
    """,
    tags=("sink", "source", "xml", "text-format", "spark4", "orders"),
)
def q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML SINK + SOURCE round trip — the Spark 4 BUILT-IN xml format
    (spark-xml graduated into the engine): orders are written as
    ``<order>`` row elements and read back with an EXPLICIT schema
    and rowTag, then aggregated; equality against the oracle over
    the ORIGINAL parquet proves the markup round trip lost no row,
    date, or cent. Enterprise feeds still arrive as XML — this pins
    that ingesting them needs no third-party package and no parsing
    UDF (the reader is a distributed scan with a declared schema,
    one partition per file split, exactly like csv/json).

    Dates ride as DATE via the declared schema; money compares as
    exact cents (the q_csv_roundtrip discipline). XML is the most
    verbose of the text interchange formats (~6x parquet bytes) and
    prune-blind — the argument for parquet landing stands; the
    interchange path is nevertheless lossless when schemas are
    explicit.
    """
    orders = load_table(spark, sf_dir, "orders")
    tag = _fixture_tag(sf_dir, "orders")
    path = os.path.join(_XML_ROOT, f"orders_{tag}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        (orders.select("o_orderkey", "o_orderstatus", "o_totalprice",
                       F.col("o_orderdate").cast("date")
                       .alias("o_orderdate"))
         .write.mode("overwrite").option("rowTag", "order")
         .format("xml").save(path))
    back = (spark.read.schema("o_orderkey long, o_orderstatus string, "
                              "o_totalprice double, o_orderdate date")
            .option("rowTag", "order").format("xml").load(path))
    return (back.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
                 .alias("sum_cents"),
                 F.date_format(F.min("o_orderdate"), "yyyy-MM-dd")
                 .alias("first_date"),
                 F.date_format(F.max("o_orderdate"), "yyyy-MM-dd")
                 .alias("last_date")))


_ORC_ROOT = os.path.join(tempfile.gettempdir(), "mmr_orc")


@register(
    "q_orc_roundtrip",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           strftime(MIN(CAST(o_orderdate AS DATE)), '%Y-%m-%d')
               AS first_date
    FROM orders
    WHERE o_orderstatus = 'F' AND o_totalprice >= 100000
    GROUP BY o_orderpriority
    """,
    tags=("sink", "source", "orc", "columnar", "partition-pruning",
          "orders"),
)
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC SINK + SOURCE round trip through a PARTITIONED layout —
    the second built-in columnar format (Hive-ecosystem
    interchange), exercised the way a lake would lay it out:
    ``sources.write_orc(partition_by="o_orderstatus")`` lands one
    directory per status, and the read-back filter
    ``o_orderstatus = 'F'`` resolves at PLANNING time to a directory
    listing (partition pruning — non-'F' files are never opened)
    while ``o_totalprice >= 100000`` pushes into the ORC reader's
    stripe/row-group statistics exactly as it would on parquet.
    Equality against the oracle over the ORIGINAL parquet proves the
    columnar round trip lost no row, date, or cent (exact-cents
    discipline shared with q_csv_roundtrip / q_xml_roundtrip).

    At 100 TB the partition column choice IS the query pattern
    contract: status-partitioned ORC makes status-scoped scans read
    1/|statuses| of the lake; the same write with no partition_by
    would push the status predicate down to stripe stats instead —
    strictly weaker (files still opened). tests/test_sources.py pins
    the helper pair; this query puts the layout under the value-hash
    gate.
    """
    from my_mapreduce_spark.sources import read_orc, write_orc

    orders = load_table(spark, sf_dir, "orders")
    tag = _fixture_tag(sf_dir, "orders")
    path = os.path.join(_ORC_ROOT, f"orders_{tag}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        write_orc(
            orders.select("o_orderkey", "o_orderpriority",
                          "o_totalprice",
                          F.col("o_orderdate").cast("date")
                          .alias("o_orderdate"), "o_orderstatus"),
            path, partition_by="o_orderstatus")
    back = (read_orc(spark, path,
                     schema="o_orderkey long, o_orderpriority string, "
                            "o_totalprice double, o_orderdate date, "
                            "o_orderstatus string")
            .where((F.col("o_orderstatus") == "F")
                   & (F.col("o_totalprice") >= 100000)))
    return (back.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
                 .alias("sum_cents"),
                 F.date_format(F.min("o_orderdate"), "yyyy-MM-dd")
                 .alias("first_date")))


_JSONL_ROOT = os.path.join(tempfile.gettempdir(), "mmr_jsonl")


@register(
    "q_jsonl_roundtrip",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           COUNT(DISTINCT md5(props)) AS n_distinct_props,
           MIN(strftime(ts, '%Y-%m-%d %H:%M:%S.%f')) AS first_ts,
           MAX(strftime(ts, '%Y-%m-%d %H:%M:%S.%f')) AS last_ts
    FROM events GROUP BY event_type
    """,
    tags=("sink", "source", "json", "jsonl", "text-format", "events"),
)
def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-LINES SINK + SOURCE round trip — the interchange format
    LLM training corpora actually ship in (one JSON object per line,
    splittable, schema-on-read). Events are written as JSONL and
    read back with an EXPLICIT schema and timestampFormat, then
    aggregated; equality against the oracle over the ORIGINAL
    parquet proves the round trip lost no row, microsecond, quote,
    or decimal digit.

    The traps, each pinned by the equality: microsecond timestamps
    (explicit .SSSSSS format on write AND read — the default writes
    ISO-8601 the reader would still parse, but a pinned format makes
    the contract explicit); the ``props`` column is a STRING that
    CONTAINS JSON — the writer must escape it as a quoted string,
    not inline it as a nested object, and the reader must hand back
    the original text byte-for-byte (n_distinct_props compares md5s
    of the round-tripped strings against the originals' — schema-
    on-read tools that "helpfully" re-parse nested JSON break
    exactly here); and value -> cents integer accumulation keeps the
    comparison float-seam-free (the q_csv_roundtrip discipline).

    Scale shape: JSONL write/read are full distributed passes, one
    file per partition, line-splittable on read (unlike multiline
    JSON, a JSONL file splits at newlines, so a 100 TB landing still
    fans out by spark.sql.files.maxPartitionBytes). JSONL is ~4x
    parquet bytes, repeats every key per row, and is prune-blind —
    the argument for parquet landing stands; this pins that the
    interchange path is nevertheless lossless when schemas are
    explicit.
    """
    ev = load_table(spark, sf_dir, "events")
    tag = _fixture_tag(sf_dir, "events")
    path = os.path.join(_JSONL_ROOT, f"events_{tag}")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        (ev.select("event_id", "ts", "user_id", "event_type", "value",
                   "props")
         .write.mode("overwrite").option("timestampFormat", fmt)
         .json(path))
    back = (spark.read.schema("event_id long, ts timestamp, user_id long, "
                              "event_type string, value double, "
                              "props string")
            .option("timestampFormat", fmt).json(path))
    return (back.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.round(F.col("value") * 100).cast("bigint"))
                 .alias("sum_cents"),
                 F.count_distinct(F.md5("props"))
                 .alias("n_distinct_props"),
                 F.date_format(F.min("ts"), fmt).alias("first_ts"),
                 F.date_format(F.max("ts"), fmt).alias("last_ts")))
