"""Data-axis scaling probe: replicate the sf0.1 fixture 10x (with
consistent key offsets) into a /tmp scratch dir and measure headline
queries at sf0.01 -> sf0.1 -> 10x-sf0.1 — one decade of measured
data scaling to back the SCALE.md extrapolations (the partition-axis
twin is tools/shuffle_scaling.py).

The synthetic tier is for TIMING only, never correctness: oracles
stay on the driver fixtures. Replication shifts every key family by
a replica-specific offset (orderkey/custkey/partkey/suppkey/doc_id/
vec_id), so joins stay consistent and per-key group sizes keep their
sf0.1 shape — row counts scale 10x while key cardinality scales 10x
too, which is how a bigger crawl actually grows. Queries whose cost
is driven by PAIR structure over near-identical docs (LSH, exact
Jaccard) are excluded: replicating text 10x would plant 45 dup pairs
per original doc and measure a different (dup-saturated) workload,
not scale.

Usage: python tools/scale_probe.py [--out /tmp/sf1_synth] [--skip-build]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from my_mapreduce_spark.io import load_table  # noqa: E402
from my_mapreduce_spark.registry import REGISTRY  # noqa: E402
from tools import runner  # noqa: E402

_SF01 = "/root/testdata/sf0.1"
_SF001 = "/root/testdata/sf0.01"
_REPLICAS = 10   # default decade tier; --replicas 30/100 builds the
                 # super-decade tiers BASELINE.md records for the top
                 # shuffle-amplification rows

# key columns to shift per table: col -> stride key family
_KEYS = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "events": ["event_id", "user_id"],
    "nation": [],   # dimensions stay as-is (broadcast side)
    "region": [],
}

# key column -> stride family; columns sharing a family shift by the
# same stride so every join (lineitem-orders, orders-customer,
# events.user_id-customer.c_custkey) stays consistent across replicas
_FAMILY = {
    "l_orderkey": "orderkey", "o_orderkey": "orderkey",
    "o_custkey": "custkey", "c_custkey": "custkey", "user_id": "custkey",
    "l_partkey": "partkey", "p_partkey": "partkey",
    "l_suppkey": "suppkey", "s_suppkey": "suppkey",
    "doc_id": "doc", "vec_id": "vec", "event_id": "event",
}

_PROBE = [
    "q1_pricing_summary",        # scan + hash agg
    "q3_shipping_priority",      # fact-fact join + top-k
    "q13_customer_distribution", # outer join + double agg
    "q_window_ntile",            # distributed rank + closed-form ntile
    "q_vocab_rank_scalable",     # explode + two-pass rank
    "q_lang_id_trigram",         # doc-partitioned classification
    "q_pack_sequences",          # distributed prefix sum
    "q_dedup_exact",             # content-hash agg
]


def build(spark, out: str, replicas: int = _REPLICAS) -> None:
    strides = {}
    for t, keys in _KEYS.items():
        df = load_table(spark, _SF01, t)
        if not keys:
            df.write.mode("overwrite").parquet(f"{out}/{t}.parquet")
            continue
        # stride = next power of 10 above the max key, so replica
        # keys never collide and stay join-consistent across tables
        for k in keys:
            fam = _FAMILY[k]
            if fam not in strides:
                mx = df.agg(F.max(k)).first()[0] or 0
                s = 1
                while s <= mx:
                    s *= 10
                strides[fam] = s
        parts = []
        for i in range(replicas):
            rep = df
            for k in keys:
                fam = _FAMILY[k]
                rep = rep.withColumn(
                    k, (F.col(k) + F.lit(i * strides[fam])).cast("long"))
            if t == "documents" and i > 0:
                # Per-replica token salt: prefix every token with the
                # replica tag so cross-replica shingles/tokens are
                # DISJOINT. Within each replica the near-dup pair
                # structure is exactly sf0.1's; across replicas there
                # are no candidate pairs — i.e. a 10x crawl of ten
                # disjoint domains. Without this, replication would
                # plant 45 exact-dup pairs per original doc and the
                # pair-structured queries (LSH, prefix-filter,
                # weighted Jaccard) would measure dup-saturation,
                # not scale.
                rep = rep.withColumn(
                    "text",
                    F.array_join(
                        F.transform(F.split(F.col("text"), " "),
                                    lambda w: F.concat(F.lit(f"r{i}"), w)),
                        " "))
            parts.append(rep)
        u = parts[0]
        for p in parts[1:]:
            u = u.unionAll(p)
        u.write.mode("overwrite").parquet(f"{out}/{t}.parquet")
        print(f"  built {t} x{replicas}", file=sys.stderr)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="/tmp/sf1_synth")
    ap.add_argument("--skip-build", action="store_true")
    ap.add_argument("--replicas", type=int, default=_REPLICAS,
                    help="replication factor of the synthetic tier "
                         "(10 = decade; 30/100 = super-decade rows)")
    ap.add_argument("--probe", nargs="*", default=None,
                    help="query names to probe (default: built-in set)")
    args = ap.parse_args()

    spark = runner.start("scale-probe")
    if not args.skip_build:
        build(spark, args.out, args.replicas)

    probe = args.probe if args.probe else [n for n in _PROBE if n]
    runner.warm_up(spark, _SF001)

    tiers = [("sf0.01", _SF001), ("sf0.1", _SF01),
             (f"{args.replicas}x sf0.1", args.out)]
    rows = []
    for name in probe:
        if name not in REGISTRY:
            continue
        cells = []
        for _, d in tiers:
            res = runner.run(spark, name, d, runner.count)
            res.result()
            cells.append(res.secs)
        rows.append((name, cells))
        print(f"  {name}: " + "  ".join(
            f"{lbl}->{t:.2f}s" for (lbl, _), t in zip(tiers, cells)),
            file=sys.stderr)

    print("| query | " + " | ".join(lbl for lbl, _ in tiers)
          + f" | sf0.1->{args.replicas}x ratio |")
    print("|---|" + "---|" * (len(tiers) + 1))
    for name, cells in rows:
        ratio = cells[2] / cells[1] if cells[1] > 0 else float("inf")
        print(f"| {name} | " + " | ".join(f"{t:.2f}s" for t in cells)
              + f" | {ratio:.1f}x |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
