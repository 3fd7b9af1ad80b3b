"""Benchmark harness: time every registered query at $SPARK_GRAFT_SF_DIR.

Prints exactly one COMPACT JSON line:
    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {<headline queries only>}, "n_queries": N, "sf": <sf>}

The per-query map on stdout is restricted to the HEADLINE set (the
reference-parity apps + TPC-H + one representative per major family)
so the line stays well under the driver's capture window —
BENCH_r03/BENCH_r04 recorded ``parsed: null`` because the full
296-entry map overflowed the tail capture.  The complete per-query
map is written to ``BENCH_LOCAL.json`` next to this script.

Each query runs through ``tools/runner.py`` — the one caller-side
cache release (checked to leave nothing pinned) and the shared warm-up
of one batch and one streaming query, so JVM/codegen startup isn't
billed to the first query. Its action, ``runner.count``, executes
the query's own plan, every column included, and returns the row
count (not ``collect`` — results can be wide).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

from my_mapreduce_spark.registry import REGISTRY
from tools import runner

# Wall budget of the re-timing pass (PASS 2 below).
_RETIME_BUDGET_S = 240.0


def _cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies from /proc/stat — cumulative across all
    CPUs. Steal is the one host-contention signal a Firecracker guest
    CAN see (loadavg stays near 0 while wall-clocks swing — the
    round-11 contamination); zero-safe off Linux."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return sum(vals), vals[7] if len(vals) > 7 else 0
    except (OSError, ValueError, IndexError):
        return 0, 0


def _sentinel_sec(spark) -> float:
    """Fixed pure-JVM calibration job (no Python workers, no I/O,
    scales with the master's cores): timed before pass 1, between
    passes, and at the end, so a round-over-round 'mover' whose delta
    tracks the sentinel's swing is machine-flagged as host noise
    (round-11 verdict item 2)."""
    t0 = time.time()
    spark.range(64_000_000, numPartitions=64) \
        .selectExpr("count(xxhash64(id)) AS c").collect()
    return round(time.time() - t0, 3)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark = runner.start("bench")
    runner.warm_up(spark, sf_dir)

    steals: dict[str, float] = {}

    def run_once(name: str) -> float | None:
        j0, s0 = _cpu_jiffies()
        res = runner.run(spark, name, sf_dir, runner.count)
        if res.error is not None:  # failures become a negative sentinel
            print(f"bench: {name} FAILED: {res.error}", file=sys.stderr)
            return None
        j1, s1 = _cpu_jiffies()
        if j1 > j0:  # % of machine capacity stolen by the host
            pct = round(100.0 * (s1 - s0) / (j1 - j0), 2)
            steals[name] = max(steals.get(name, 0.0), pct)
        return res.secs

    # PASS 1 — one timed run per query, in registry order, nothing
    # interleaved: this is the operating point every earlier round's
    # artifact was recorded at, so round-over-round comparison stays
    # like-for-like.
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    samples_by_q: dict[str, list] = {}
    sentinel = [_sentinel_sec(spark)]
    for name in REGISTRY:
        dt = run_once(name)
        if dt is None:
            timings[name] = -1.0
            continue
        samples_by_q[name] = [dt]
    # PASS 2 — BASELINE.md documents ~2x run-to-run variance in the
    # short-query band (worst under 1 s, visible to ~2 s), exactly
    # where past rounds' phantom "movers" lived: short queries get 2
    # more samples AFTER the comparable pass (so the extra executions
    # cannot inflate a heavy neighbor's pass-1 number), and record
    # median + spread. The pass is WALL-BUDGETED (_RETIME_BUDGET_S):
    # the driver captures bench stdout under its own clock, and a
    # re-timing pass that doubled the wall would risk a truncated
    # capture (the BENCH_r03/r04 parsed:null failure class) — cheapest
    # queries first, so whatever budget exists de-noises the noisiest
    # band.
    sentinel.append(_sentinel_sec(spark))
    t_pass2 = time.time()
    for name in sorted(samples_by_q, key=lambda k: samples_by_q[k][0]):
        samples = samples_by_q[name]
        want = 3 if samples[0] < 2.0 else 1
        while len(samples) < want and time.time() - t_pass2 < _RETIME_BUDGET_S:
            dt = run_once(name)
            if dt is None:
                break
            samples.append(dt)
        timings[name] = round(statistics.median(samples), 3)
        if len(samples) > 1:
            spreads[name] = round(max(samples) - min(samples), 3)
    sentinel.append(_sentinel_sec(spark))
    total = round(sum(t for t in timings.values() if t >= 0), 3)
    # Headline subset kept on stdout: reference-parity apps, TPC-H, and
    # one representative per major family.  Everything else lives in
    # BENCH_LOCAL.json — the full 296-entry map on stdout is what made
    # BENCH_r03/BENCH_r04 unparseable (`parsed: null`).
    headline = [
        "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
        "q6_revenue_change", "q10_returned_items", "q18_large_orders",
        "wc_word_count", "indexer_inverted_index", "early_exit_file_count",
        "concat_agg",
        "q_dedup_minhash_lsh_prod", "q_dedup_exact", "q_knn_bruteforce",
        "q_lang_id", "q_bm25_search", "q_pagerank",
        "q_streaming_sessionize", "q_window_running_sum",
        "q_sql_cte_pipeline", "q_grouping_sets",
        "q_curation_endgame",
    ]
    line = json.dumps({
        "metric": "total_query_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": {k: timings[k] for k in headline if k in timings},
        "n_queries": len(timings),
        "n_failed": sum(1 for t in timings.values() if t < 0),
        "sf": sf,
        # contention telemetry (additive, round-11 verdict item 2):
        # sentinel_sec = the fixed JVM calibration job timed at
        # [start, between passes, end]; steal_pct_max = worst
        # per-query host-steal share observed this run
        "sentinel_sec": sentinel,
        "steal_pct_max": max(steals.values(), default=0.0),
    })
    print(line)
    full = json.dumps({
        "metric": "total_query_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        # max-min across samples, present only for re-timed queries:
        # a round-over-round "mover" whose delta sits inside its own
        # spread is noise, not an effect
        "spread": spreads,
        # worst host-steal share (%) seen during any sample of each
        # query — a mover whose window shows steal is host noise
        "steal": steals,
        "sentinel_sec": sentinel,
        "n_queries": len(timings),
        "sf": sf,
    })
    try:
        with open(os.path.join(runner.ROOT, "BENCH_LOCAL.json"), "w") as f:
            f.write(full + "\n")
    except OSError as exc:
        print(f"bench: could not write BENCH_LOCAL.json: {exc}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
