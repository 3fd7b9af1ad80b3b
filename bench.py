"""Benchmark harness: time every registered query at $SPARK_GRAFT_SF_DIR.

Prints exactly one COMPACT JSON line:
    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {<headline queries only>}, "n_queries": N, "sf": <sf>,
     "cpu_s": <executor CPU-seconds of pass 1>, ...}

Only the HEADLINE queries go on stdout, so the line fits the driver's
capture window (the full map made BENCH_r03/r04 ``parsed: null``); the
complete per-query map goes to ``BENCH_LOCAL.json``.

Each query runs through ``tools/runner.py``: the shared warm-up, an
action (``runner.count``) that executes the query's own plan, and the
caller-side cache release.

The same pass writes ``COST_LOCAL.json``, one entry per query that
succeeded: shuffle bytes, stages and tasks from the run's stage
metrics (``Run.stages``), and SOURCE bytes, the on-disk sizes of the
fixture tables the query loads (the executor ``inputBytes`` metric
under-reports local vectorized parquet reads by ~1000x). Shuffle
amplification, shuffle-write bytes per source byte, prices the plan
at scale; its regressions (:func:`cost_regressions`) go to stderr and
the artifact, not the exit code.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

import my_mapreduce_spark.io as mmr_io
from my_mapreduce_spark.registry import REGISTRY
from tools import runner

# Wall budget of the re-timing pass (PASS 2 below).
_RETIME_BUDGET_S = 240.0

_TABLES_READ: set[tuple[str, str]] = set()
_orig_load_table = mmr_io.load_table


def _tracking_load_table(spark, sf_dir, table, *a, **kw):
    _TABLES_READ.add((sf_dir, table))
    return _orig_load_table(spark, sf_dir, table, *a, **kw)


def _source_bytes() -> int:
    """On-disk bytes of the fixture tables loaded since the last clear
    of ``_TABLES_READ``."""
    sb = 0
    for sf_dir, t in _TABLES_READ:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isfile(path):
            sb += os.path.getsize(path)
        elif os.path.isdir(path):
            sb += sum(os.path.getsize(os.path.join(path, f))
                      for f in os.listdir(path)
                      if not f.startswith(("_", ".")))
    return sb


def cost_regressions(prev: dict | None, cur: dict) -> list[dict]:
    """Queries whose shuffle amplification in artifact ``cur`` is over
    1.5x AND over 0.5 above artifact ``prev``'s. Amplification depends
    on cores and scale, so a ``prev`` at other ``cores``/``sf`` (or
    none) makes ``cur`` a new baseline: said on stderr, nothing flagged."""
    if prev is None or (prev.get("cores"), prev.get("sf")) != \
            (cur["cores"], cur["sf"]):
        print(f"bench: COST_LOCAL.json is a new baseline at "
              f"cores={cur['cores']} sf={cur['sf']}", file=sys.stderr)
        return []
    out = []
    for name, a in cur["queries"].items():
        pa = prev["queries"].get(name, {}).get("shuffle_amplification")
        na = a.get("shuffle_amplification")
        if pa is not None and na is not None \
                and na > pa * 1.5 and na - pa > 0.5:
            out.append({"query": name, "prev": pa, "now": na})
    return out


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    # the query modules bind `from my_mapreduce_spark.io import
    # load_table` at import time, so the tracker goes in before
    # runner.start() loads the registry
    mmr_io.load_table = _tracking_load_table
    spark = runner.start("bench")
    cores = spark.sparkContext.defaultParallelism
    runner.warm_up(spark, sf_dir)

    def run_once(name: str) -> runner.Run | None:
        res = runner.run(spark, name, sf_dir, runner.count)
        if res.error is not None:  # failures become a negative sentinel
            print(f"bench: {name} FAILED: {res.error}", file=sys.stderr)
            return None
        return res

    # PASS 1 — one timed run per query, in registry order, nothing
    # interleaved (every earlier round's operating point); its runs are
    # also the byte accounting.
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    samples_by_q: dict[str, list] = {}
    cpu: dict[str, float] = {}
    cost: dict[str, dict] = {}
    for name in REGISTRY:
        _TABLES_READ.clear()
        res = run_once(name)
        if res is None:
            timings[name] = -1.0
            continue
        samples_by_q[name] = [res.secs]
        st, src = res.stages, _source_bytes()
        cpu[name] = round(st["cpu_s"], 3)
        write = int(st["shuffle_write_mb"] * 2**20)
        cost[name] = {
            "source_bytes": src, "shuffle_write_bytes": write,
            "shuffle_read_bytes": int(st["shuffle_read_mb"] * 2**20),
            "n_stages": int(st["stages"]), "n_tasks": int(st["tasks"]),
            "shuffle_amplification": round(write / src, 3) if src else None}
    # PASS 2 — short queries (~2x run-to-run variance under 2 s) get 2
    # more samples, cheapest first, AFTER the comparable pass, and
    # record median + spread; the pass is wall-budgeted so the driver's
    # capture of stdout is never cut.
    t_pass2 = time.time()
    for name in sorted(samples_by_q, key=lambda k: samples_by_q[k][0]):
        samples = samples_by_q[name]
        want = 3 if samples[0] < 2.0 else 1
        while len(samples) < want and time.time() - t_pass2 < _RETIME_BUDGET_S:
            res = run_once(name)
            if res is None:
                break
            samples.append(res.secs)
        timings[name] = round(statistics.median(samples), 3)
        if len(samples) > 1:
            spreads[name] = round(max(samples) - min(samples), 3)
    total = round(sum(t for t in timings.values() if t >= 0), 3)
    cpu_total = round(sum(cpu.values()), 3)
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
        # executor CPU-seconds of pass 1: host steal does not move it
        "cpu_s": cpu_total,
    })
    print(line)
    full = json.dumps({
        "metric": "total_query_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        # max-min across samples of re-timed queries: a mover inside
        # its own spread is noise
        "spread": spreads,
        "cpu_s": cpu,
        "n_queries": len(timings),
        "sf": sf,
        "cores": cores,
    })
    cost_path = os.path.join(runner.ROOT, "COST_LOCAL.json")
    header = {"cores": cores, "sf": sf}
    try:
        with open(os.path.join(runner.ROOT, "BENCH_LOCAL.json"), "w") as f:
            f.write(full + "\n")
        prev = None
        if os.path.exists(cost_path):
            with open(cost_path) as f:
                prev = json.load(f)
        regressions = cost_regressions(prev, {**header, "queries": cost})
        runner.write_artifact(cost_path, cost, False,
                              header={**header, "regressions": regressions})
    except OSError as exc:
        print(f"bench: could not write an artifact: {exc}", file=sys.stderr)
        return 0
    for r in regressions:
        print(f"bench: REGRESSION {r['query']} "
              f"shuffle amplification {r['prev']} -> {r['now']}",
              file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
