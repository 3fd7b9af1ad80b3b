"""Byte-accounting probe: per query, how many SOURCE bytes it reads
and how many bytes it SHUFFLES — the two quantities that actually
price a 100 TB run (wall-clock on toy data measures constants; bytes
measure the plan). Shuffle amplification (shuffle-write bytes per
source byte) is the headline: a plan that shuffles 3x what it reads
hits the network wall at scale no matter how fast it looks at sf0.1.

Method: each query runs in its own Spark job group; shuffle byte
totals come from the Spark UI's REST API
(/api/v1/applications/<app>/{jobs,stages}), joined job-group -> jobs
-> stages. SOURCE bytes are the on-disk sizes of the fixture tables
the query loads, captured by instrumenting ``io.load_table`` before
the query modules import it (the executor-side ``inputBytes`` metric
under-reports local vectorized parquet reads by ~1000x in this build
— 17 KB recorded for an 11 MB scan — so file sizes are the honest
denominator). Queries that read via side channels (partitioned/
bucketed/snapshot layouts, streaming sources) record the tables they
load_table'd plus a ``side_channel_reads`` flag where known gaps
exist. Writes COST_LOCAL.json and prints a markdown table.

Trending: every run compares each query's shuffle amplification to
the PREVIOUS committed COST_LOCAL.json and records material
regressions (>1.5x worse AND >0.5 absolute) in the artifact's
``regressions`` list; tests/test_registry_hygiene.py asserts the
list is empty, so an amplification regression fails the suite until
either the plan is fixed or the regression is explicitly
re-baselined by committing the new artifact story.

Usage:
    python tools/cost_probe.py [--sf DIR] [--top N | --tail-secs S | name ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import my_mapreduce_spark.io as mmr_io  # noqa: E402
from tools import runner  # noqa: E402

# Instrument load_table BEFORE runner.start() loads the registry: the
# query modules bind `from my_mapreduce_spark.io import load_table` at
# import time, so the wrapper must be in place first.
_TABLES_READ: set[str] = set()
_orig_load_table = mmr_io.load_table


def _tracking_load_table(spark, sf_dir, table, *a, **kw):
    _TABLES_READ.add((sf_dir, table))
    return _orig_load_table(spark, sf_dir, table, *a, **kw)


mmr_io.load_table = _tracking_load_table


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--top", type=int, default=0,
                    help="probe the N slowest queries per BENCH_LOCAL.json")
    ap.add_argument("--tail-secs", type=float, default=0.0,
                    help="probe every query whose BENCH_LOCAL.json "
                         "timing is >= S seconds (the expensive tail "
                         "— where shuffle amplification prices the "
                         "100 TB run)")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    # retention must exceed the WHOLE run's job/stage count: the UI
    # store evicts oldest-first, and the tail is probed heaviest-
    # first — at 75+ tail queries the defaults silently evicted the
    # first (heaviest!) queries' stages before the REST join read
    # them, dropping q_dedup_funnel/q_kcore_peel from the artifact
    # (round-8 find; the hysteretic hygiene gate caught the hole)
    spark = runner.start("cost-probe", extra_confs={
        "spark.ui.enabled": "true",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })
    if args.names:
        names = args.names
    elif args.tail_secs:
        names = runner.bench_tail(min_s=args.tail_secs)
    elif args.top:
        names = runner.bench_tail(top=args.top)
    else:
        names = ["q1_pricing_summary", "q3_shipping_priority",
                 "q_dedup_minhash_lsh_prod", "q_pagerank",
                 "q_sparse_cosine_pairs", "q_itemsets_apriori"]
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    base = f"{ui}/api/v1/applications/{app_id}"

    # warm-up so parquet footer/JIT bytes don't pollute the first
    # query; its jobs carry "warm-up ..." groups, so no query's
    # totals below include them
    runner.warm_up(spark, args.sf)

    source_bytes: dict[str, int] = {}
    for name in names:
        _TABLES_READ.clear()
        res = runner.run(spark, name, args.sf, runner.count)
        if res.error is not None:
            print(f"cost_probe: {name} FAILED: {res.error}", file=sys.stderr)
        sb = 0
        for sf_dir, t in _TABLES_READ:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.isfile(path):
                sb += os.path.getsize(path)
            elif os.path.isdir(path):
                sb += sum(os.path.getsize(os.path.join(path, f))
                          for f in os.listdir(path)
                          if not f.startswith(("_", ".")))
        source_bytes[name] = sb

    jobs = _get(f"{base}/jobs?status=succeeded")
    stages = {s["stageId"]: s for s in _get(f"{base}/stages?status=COMPLETE")}
    per_query: dict[str, dict] = {}
    seen_stages: dict[str, set] = {}
    for job in jobs:
        group = job.get("jobGroup")
        if group not in names:
            continue
        agg = per_query.setdefault(group, {
            "input_bytes": 0, "output_bytes": 0,
            "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
            "n_stages": 0, "n_tasks": 0})
        seen = seen_stages.setdefault(group, set())
        for sid in job.get("stageIds", []):
            # AQE reuses stages across jobs in one query; count once
            if sid in seen or sid not in stages:
                continue
            seen.add(sid)
            s = stages[sid]
            agg["input_bytes"] += s.get("inputBytes", 0)
            agg["output_bytes"] += s.get("outputBytes", 0)
            agg["shuffle_write_bytes"] += s.get("shuffleWriteBytes", 0)
            agg["shuffle_read_bytes"] += s.get("shuffleReadBytes", 0)
            agg["n_stages"] += 1
            agg["n_tasks"] += s.get("numCompleteTasks", 0)
    for name, a in per_query.items():
        a["source_bytes"] = source_bytes.get(name, 0)
        a["shuffle_amplification"] = round(
            a["shuffle_write_bytes"] / a["source_bytes"], 3) \
            if a.get("source_bytes") else None

    # trend gate: compare amplification to the previous committed
    # artifact; a plan regression must be a conscious act, not drift
    out_path = os.path.join(runner.ROOT, "COST_LOCAL.json")
    regressions = []
    if os.path.exists(out_path):
        with open(out_path) as f:
            prev = json.load(f).get("queries", {})
        for name, a in per_query.items():
            pa = prev.get(name, {}).get("shuffle_amplification")
            na = a.get("shuffle_amplification")
            if pa is None or na is None:
                continue
            if na > pa * 1.5 and na - pa > 0.5:
                regressions.append({"query": name, "prev": pa, "now": na})
    per_query = runner.write_artifact(
        out_path, per_query, bool(args.names),
        header={"sf": args.sf, "regressions": regressions})
    for r in regressions:
        print(f"cost_probe: REGRESSION {r['query']} "
              f"shuffle amplification {r['prev']} -> {r['now']}",
              file=sys.stderr)

    def mb(b):
        return f"{b / 1e6:.1f}MB"

    print("| query | source | shuffle write | shuffle/source | stages | tasks |")
    print("|---|---|---|---|---|---|")
    for name in names:
        a = per_query.get(name)
        if not a:
            continue
        print(f"| {name} | {mb(a['source_bytes'])} | "
              f"{mb(a['shuffle_write_bytes'])} | "
              f"{a['shuffle_amplification']} | {a['n_stages']} | "
              f"{a['n_tasks']} |")
    print(f"wrote {out_path} ({len(per_query)} entries, "
          f"{len(regressions)} regressions)")
    return 1 if regressions else 0


if __name__ == "__main__":
    sys.exit(main())
