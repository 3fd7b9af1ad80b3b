"""Concurrent-stream throughput probe — the TPC-H "throughput test"
axis bench.py does not cover: a production engine serves MANY
sessions at once, and a plan that looks fine sequentially can
serialize the whole cluster behind one fat stage (driver-side locks,
single-partition stages, greedy FIFO scheduling).

Method: take a representative mixed workload (scan-heavy, join-heavy,
window, dedup-banded, text, vector), measure (1) sequential wall
(sum of per-query walls, the bench.py convention) and (2) makespan
with S concurrent streams driving the SAME SparkSession from
threads — Spark schedules their jobs concurrently inside one
application, which is exactly the multi-tenant shape (one
application, many notebook users) local[32] can emulate. The
context runs the FAIR scheduler (an application conf, set at
creation) with one pool per stream, so a long banded-dedup stage
cannot convoy the short scans queued behind it the way plain FIFO
stage ordering can.

Reported: sequential wall, concurrent makespan, throughput speedup
(sequential / makespan), and per-query concurrent-vs-solo slowdown
(fairness: nothing should starve). JSON artifact:
CONCURRENCY_LOCAL.json.

A third pass measures the MIXED shape real pipelines run (round-7
verdict item 6): one continuous ingest stream — the stateful
sessionizer's availableNow micro-batches, looped — beside the S
batch streams. The ingest thread drives a ``spark.newSession()``
(own SQLConf + temp views, shared context/scheduler): streaming
runs scope ``spark.sql.shuffle.partitions`` down for state-store
setup, and a shared session would let that conf flip mid-plan under
the batch streams. Ingest iterations pin one localCheckpoint result
each and are released AFTER the pass (release_caches is
context-global; a mid-pass force release would drop live batch
caches) — accumulation is bounded by makespan/stream-wall
iterations, probe-scale only.

Usage: python tools/concurrency_probe.py [--streams 4] [--sf DIR]
       [--stream-query q_streaming_sessionize]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from my_mapreduce_spark.caching import release_caches  # noqa: E402
from my_mapreduce_spark.registry import REGISTRY  # noqa: E402
from tools import runner  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# A mixed workload: one representative per major cost family. Kept
# to queries with NO session-global side effects (no temp-dir sinks,
# no persist-everything graph loops) so streams compose safely.
WORKLOAD = [
    "q1_pricing_summary",        # scan + partial agg
    "q3_shipping_priority",      # 3-way join
    "q13_customer_distribution", # outer join + double agg
    "q_window_rank_topn",        # partitioned window
    "q_dedup_minhash_lsh",       # banded LSH candidate join
    "q_knn_bruteforce",          # vector scoring
    "q_lang_id",                 # text expressions
    "q_topk_orders",             # global top-k
    "q_grouping_sets",           # multi-grouping agg
    "q_semi_join",               # existence join
    "q_histogram",               # width-bucket agg
    "q_sorted_neighborhood_pairs",  # range-rank + probe join
]


def _run_one(spark, name: str, sf_dir: str) -> float:
    t0 = time.time()
    runner.count(REGISTRY[name].fn(spark, sf_dir))
    return time.time() - t0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--streams", type=int, default=4)
    ap.add_argument("--stream-query", default="q_streaming_sessionize",
                    help="streaming job looped beside the batch "
                         "streams in the mixed pass")
    ap.add_argument("--out", default=os.path.join(
        ROOT, "CONCURRENCY_LOCAL.json"))
    args = ap.parse_args()

    # Pool isolation (round-9 verdict #7: one batch query paid 2.03x
    # beside the ingest): an explicit allocation file down-weights the
    # ingest pool 1:4 against every batch pool, so ingest micro-batch
    # tasks only backfill cores the batch streams are not claiming —
    # FAIR weights throttle concurrent task grants per pool (there is
    # no hard core cap in FAIR; the weight ratio is the lever, and the
    # ingest's own slowdown is the accepted price — the verdict bounds
    # BATCH slowdown, not ingest). minShare=1 keeps ingest live so its
    # micro-batches never fully starve.
    import tempfile

    pools = "\n".join(
        f'  <pool name="stream-{i}">\n'
        f"    <schedulingMode>FIFO</schedulingMode>\n"
        f"    <weight>4</weight>\n    <minShare>2</minShare>\n  </pool>"
        for i in range(args.streams))
    alloc_xml = ('<?xml version="1.0"?>\n<allocations>\n'
                 f"{pools}\n"
                 '  <pool name="ingest">\n'
                 "    <schedulingMode>FIFO</schedulingMode>\n"
                 "    <weight>1</weight>\n    <minShare>1</minShare>\n"
                 "  </pool>\n</allocations>\n")
    alloc = tempfile.NamedTemporaryFile("w", suffix="_fairscheduler.xml",
                                        delete=False)
    alloc.write(alloc_xml)
    alloc.close()
    # FAIR must be set at CONTEXT creation (an application conf, not
    # a job-local property — only spark.scheduler.pool is per-thread)
    spark = runner.start("concurrency-probe",
                         extra_confs={
                             "spark.scheduler.mode": "FAIR",
                             "spark.scheduler.allocation.file": alloc.name})
    fair = spark.sparkContext.getConf().get("spark.scheduler.mode")

    # warm-up at the MEASURED sf: JVM + codegen + file listing + OS
    # page cache all off the clock for BOTH passes (a tiny-sf warm-up
    # would leave pass 1 paying the first-touch read of the measured
    # dataset that pass 2 then gets for free, inflating the speedup)
    for name in WORKLOAD:
        _run_one(spark, name, args.sf)
    release_caches(spark, force_checkpointed=True)

    # pass 1: solo timings (the bench.py convention)
    solo: dict[str, float] = {}
    t_seq0 = time.time()
    for name in WORKLOAD:
        solo[name] = round(_run_one(spark, name, args.sf), 3)
    sequential_wall = round(time.time() - t_seq0, 3)
    release_caches(spark, force_checkpointed=True)

    # pass 2: S streams, each running the whole workload at a
    # different rotation so streams collide on DIFFERENT queries at
    # any instant; each stream gets its own pool (FAIR when the
    # context is ours; a pre-existing FIFO context is reported)
    conc: dict[str, list[float]] = {n: [] for n in WORKLOAD}
    errors: list[str] = []

    def stream(idx: int) -> None:
        spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", f"stream-{idx}")
        rot = WORKLOAD[idx % len(WORKLOAD):] + WORKLOAD[:idx % len(WORKLOAD)]
        for name in rot:
            try:
                conc[name].append(_run_one(spark, name, args.sf))
            except Exception as exc:  # pragma: no cover - diagnostic
                errors.append(f"{name}@stream{idx}: {exc}")

    threads = [threading.Thread(target=stream, args=(i,))
               for i in range(args.streams)]
    t0 = time.time()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    makespan = round(time.time() - t0, 3)
    release_caches(spark, force_checkpointed=True)

    # pass 3 (mixed): the same S batch streams PLUS one continuous
    # ingest stream looping the stateful sessionizer until the batch
    # work drains — the real pipeline shape (analytics beside
    # ingest). The ingest thread gets its own pool and its own
    # SparkSession (see module doc).
    stream_q = args.stream_query
    ingest_spark = spark.newSession()
    # solo ingest wall (warm first — state-store + codegen off the
    # clock, matching the batch warm-up discipline)
    _run_one(ingest_spark, stream_q, args.sf)
    t0 = time.time()
    _run_one(ingest_spark, stream_q, args.sf)
    stream_solo = round(time.time() - t0, 3)

    mixed_conc: dict[str, list[float]] = {n: [] for n in WORKLOAD}
    stream_walls: list[float] = []
    stop = threading.Event()

    def ingest() -> None:
        spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", "ingest")
        while not stop.is_set():
            try:
                stream_walls.append(
                    _run_one(ingest_spark, stream_q, args.sf))
            except Exception as exc:  # pragma: no cover - diagnostic
                errors.append(f"{stream_q}@ingest: {exc}")
                return

    def mixed_stream(idx: int) -> None:
        spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", f"stream-{idx}")
        rot = WORKLOAD[idx % len(WORKLOAD):] + WORKLOAD[:idx % len(WORKLOAD)]
        for name in rot:
            try:
                mixed_conc[name].append(_run_one(spark, name, args.sf))
            except Exception as exc:  # pragma: no cover - diagnostic
                errors.append(f"{name}@mixed{idx}: {exc}")

    threads = [threading.Thread(target=mixed_stream, args=(i,))
               for i in range(args.streams)]
    ingest_t = threading.Thread(target=ingest)
    t0 = time.time()
    ingest_t.start()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    mixed_makespan = round(time.time() - t0, 3)
    stop.set()
    ingest_t.join()
    release_caches(spark, force_checkpointed=True)
    release_caches(ingest_spark, force_checkpointed=True)

    stream_mean = round(sum(stream_walls) / max(len(stream_walls), 1), 3)
    mixed = {
        "stream_query": stream_q,
        "batch_makespan_s": mixed_makespan,
        "batch_throughput_speedup": round(
            args.streams * sequential_wall / mixed_makespan, 2),
        "stream_solo_s": stream_solo,
        "stream_iterations": len(stream_walls),
        "stream_mean_s": stream_mean,
        "stream_slowdown": round(stream_mean / max(stream_solo, 1e-9), 2),
        "batch_worst_slowdown": max(
            round((sum(mixed_conc[n]) / max(len(mixed_conc[n]), 1))
                  / max(solo[n], 1e-9), 2)
            for n in WORKLOAD),
    }

    total_work = args.streams * sequential_wall
    report = {
        "sf": args.sf,
        "scheduler_mode": fair,
        "pool_weights": {"batch_streams": 4, "ingest": 1,
                         "note": "allocation-file isolation, round-9 "
                                 "verdict #7"},
        "streams": args.streams,
        "workload": WORKLOAD,
        "sequential_wall_s": sequential_wall,
        "concurrent_makespan_s": makespan,
        "throughput_speedup": round(total_work / makespan, 2),
        "mixed": mixed,
        "errors": errors,
        "queries": {
            n: {
                "solo_s": solo[n],
                "concurrent_mean_s": round(
                    sum(conc[n]) / max(len(conc[n]), 1), 3),
                "slowdown": round(
                    (sum(conc[n]) / max(len(conc[n]), 1))
                    / max(solo[n], 1e-9), 2),
            }
            for n in WORKLOAD
        },
    }
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
        f.write("\n")

    print(f"sequential wall ({len(WORKLOAD)} queries): "
          f"{sequential_wall}s")
    print(f"{args.streams} streams x same workload makespan: "
          f"{makespan}s -> throughput speedup "
          f"{report['throughput_speedup']}x")
    worst = sorted(report["queries"].items(),
                   key=lambda kv: -kv[1]["slowdown"])[:3]
    for n, row in worst:
        print(f"  worst slowdown: {n} solo {row['solo_s']}s -> "
              f"concurrent {row['concurrent_mean_s']}s "
              f"({row['slowdown']}x)")
    print(f"mixed: {args.streams} batch streams + {stream_q} ingest "
          f"loop -> batch makespan {mixed['batch_makespan_s']}s "
          f"({mixed['batch_throughput_speedup']}x), ingest "
          f"{mixed['stream_iterations']} iters "
          f"{mixed['stream_mean_s']}s/iter "
          f"({mixed['stream_slowdown']}x vs solo), batch worst "
          f"slowdown {mixed['batch_worst_slowdown']}x")
    if fair != "FAIR":
        print(f"ERROR: scheduler mode is {fair}, expected FAIR")
        return 1
    if errors:
        print("ERRORS:", errors)
        return 1
    print(f"wrote {args.out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
