"""Round-close gate: regenerate every committed artifact from the
CURRENT registry so the paper trail can never lag the code again
(round-4 verdict: 23 of 296 queries had no recorded correctness
artifact because the sweep wasn't re-run after late commits).

Runs, in order:
  1. tools/query_inventory.py      -> QUERIES.md
  2. tools/check_correctness.py    -> CORRECTNESS_LOCAL.json (ALL queries, sf0.01)
  3. tools/check_correctness.py --sf sf0.1
                                   -> CORRECTNESS_SF01_LOCAL.json (10x sweep)
  4. tools/vanilla_sweep.py        -> VANILLA_LOCAL.json      (driver seam:
                                      plain SparkSession, __spark_entry__
                                      surface, per-query cache release)
  5. tools/empty_sweep.py          -> EMPTY_SWEEP_LOCAL.json  (zero-row inputs)
  6. tools/explain_audit.py        -> AUDIT_LOCAL.json        (plan quality)
  7. tools/recall_report.py        -> RECALL_LOCAL.json       (sf0.001)
  8. bench.py                      -> BENCH_LOCAL.json and COST_LOCAL.json
                                      (sf0.1; timings and byte accounting
                                      of the same pass)
  9. tools/concurrency_probe.py    -> CONCURRENCY_LOCAL.json (4-stream
                                      throughput + per-query contention
                                      slowdown, sf0.1)

Exit code 0 iff all steps succeed AND the artifact counts match the
registry AND COST_LOCAL.json covers exactly the queries the bench ran
with no regressions (the invariants tests/test_registry_hygiene.py
asserts).
Run this as the LAST commit of every round:

    python tools/round_close.py --commit

With --commit the close stages and commits every regenerated
artifact once the checks pass; either way it FAILS (exit 3) if
``git status`` is not empty afterwards, printing the offending paths.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(desc: str, argv: list[str]) -> None:
    print(f"== round_close: {desc}: {' '.join(argv)}", flush=True)
    r = subprocess.run([sys.executable] + argv, cwd=ROOT)
    if r.returncode != 0:
        print(f"round_close: FAILED at {desc} (exit {r.returncode})")
        raise SystemExit(r.returncode)


def bench_movers(prev: dict | None, now: dict) -> list[dict] | None:
    """Queries whose timing in artifact ``now`` moved >1.5x against
    artifact ``prev``, each labelled ``real`` only if the absolute
    delta also exceeds its own recorded run-to-run spread (max of both
    runs' spreads, floored at 0.2 s), else ``noise``. Timings depend on
    cores and scale, so a ``prev`` at other ``cores``/``sf`` (or none)
    makes ``now`` a new baseline: None, nothing compared (the rule of
    ``bench.cost_regressions``)."""
    if prev is None or (prev.get("cores"), prev.get("sf")) != \
            (now["cores"], now["sf"]):
        return None
    movers = []
    for name, t_now in now.get("queries", {}).items():
        t_prev = prev.get("queries", {}).get(name)
        if not t_prev or t_prev <= 0 or t_now <= 0:
            continue
        ratio = t_now / t_prev
        if 1 / 1.5 < ratio < 1.5:
            continue
        spread = max(now.get("spread", {}).get(name, 0.0),
                     prev.get("spread", {}).get(name, 0.0), 0.2)
        movers.append({
            "query": name, "prev": t_prev, "now": t_now,
            "ratio": round(ratio, 2), "spread_bound": round(spread, 3),
            "label": "real" if abs(t_now - t_prev) > spread else "noise",
        })
    return sorted(movers, key=lambda m: -abs(m["ratio"] - 1))


def _classify_bench_movers() -> None:
    """Round-over-round mover triage, machine-checked: the fresh
    BENCH_LOCAL.json's ``bench_movers`` against the last COMMITTED one
    are written into it under ``movers``, so the round narrative can
    cite the machine's verdict instead of eyeballing ambient load. A
    new baseline gets no ``movers``."""
    path = os.path.join(ROOT, "BENCH_LOCAL.json")
    try:
        prev_raw = subprocess.run(
            ["git", "show", "HEAD:BENCH_LOCAL.json"], cwd=ROOT,
            capture_output=True, text=True, check=True).stdout
        prev = json.loads(prev_raw)
    except (subprocess.CalledProcessError, json.JSONDecodeError):
        prev = None
    with open(path) as f:
        now = json.load(f)
    movers = bench_movers(prev, now)
    if movers is None:
        print(f"round_close: BENCH_LOCAL.json is a new baseline at "
              f"cores={now['cores']} sf={now['sf']}")
        return
    now["movers"] = movers
    with open(path, "w") as f:
        json.dump(now, f)
        f.write("\n")
    real = [m for m in movers if m["label"] == "real"]
    print(f"round_close: {len(movers)} movers >1.5x "
          f"({len(real)} real, {len(movers) - len(real)} noise)")
    for m in real:
        print(f"  REAL mover: {m['query']} {m['prev']} -> {m['now']} "
              f"({m['ratio']}x, spread bound {m['spread_bound']})")


def _seal_tree(do_commit: bool) -> int:
    """Leave the tree CLEAN at seal (round-10 verdict item 5): with
    ``do_commit``, stage + commit everything the close regenerated;
    either way, a dirty tree after sealing is a failure (exit 3) so
    artifact drift can never ride silently into the next round."""
    status = subprocess.run(["git", "status", "--porcelain"], cwd=ROOT,
                            capture_output=True, text=True).stdout
    dirty = [ln for ln in status.splitlines() if ln.strip()]
    if dirty and do_commit:
        subprocess.run(["git", "add", "-A"], cwd=ROOT, check=True)
        subprocess.run(
            ["git", "commit", "-m",
             "Round close: regenerate correctness/bench/audit artifacts"],
            cwd=ROOT, check=True)
        status = subprocess.run(["git", "status", "--porcelain"], cwd=ROOT,
                                capture_output=True, text=True).stdout
        dirty = [ln for ln in status.splitlines() if ln.strip()]
    if dirty:
        print("round_close: tree NOT clean at seal:")
        for ln in dirty:
            print(f"  {ln}")
        print("round_close: commit or restore the paths above "
              "(or rerun with --commit)")
        return 3
    print("round_close: tree clean at seal (git status empty)")
    return 0


def main() -> int:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--commit", action="store_true",
                    help="stage + commit the regenerated artifacts so the "
                         "seal leaves git status empty")
    args = ap.parse_args()

    _run("inventory", ["tools/query_inventory.py"])
    _run("correctness sweep (sf0.01)", ["tools/check_correctness.py",
                                        "--out", "CORRECTNESS_LOCAL.json"])
    _run("correctness sweep (sf0.1)", ["tools/check_correctness.py",
                                       "--sf", "/root/testdata/sf0.1",
                                       "--out", "CORRECTNESS_SF01_LOCAL.json"])
    _run("vanilla-seam sweep (sf0.01, plain SparkSession)",
         ["tools/vanilla_sweep.py"])
    _run("empty-input sweep", ["tools/empty_sweep.py",
                               "--out", "EMPTY_SWEEP_LOCAL.json"])
    _run("plan audit", ["tools/explain_audit.py",
                        "--out", "AUDIT_LOCAL.json"])
    _run("recall report", ["tools/recall_report.py"])
    _run("bench", ["bench.py"])
    _classify_bench_movers()
    _run("concurrency probe (4 streams, sf0.1)",
         ["tools/concurrency_probe.py"])

    # verify the invariant the hygiene pytest also checks
    sys.path.insert(0, ROOT)
    from my_mapreduce_spark.registry import REGISTRY, _ensure_loaded
    _ensure_loaded()
    with open(os.path.join(ROOT, "CORRECTNESS_LOCAL.json")) as f:
        corr = json.load(f)
    with open(os.path.join(ROOT, "BENCH_LOCAL.json")) as f:
        bench = json.load(f)
    with open(os.path.join(ROOT, "AUDIT_LOCAL.json")) as f:
        aud = json.load(f)
    with open(os.path.join(ROOT, "CORRECTNESS_SF01_LOCAL.json")) as f:
        c01 = json.load(f)
    with open(os.path.join(ROOT, "EMPTY_SWEEP_LOCAL.json")) as f:
        empty = json.load(f)
    with open(os.path.join(ROOT, "VANILLA_LOCAL.json")) as f:
        van = json.load(f)["queries"]
    with open(os.path.join(ROOT, "COST_LOCAL.json")) as f:
        cost = json.load(f)
    n = len(REGISTRY)
    benched = {k for k, t in bench["queries"].items() if t >= 0}
    ok = (len(corr) == n and bench.get("n_queries") == n and len(aud) == n
          and len(c01) == n and len(empty) == n and len(van) == n
          and set(cost["queries"]) == benched and cost["regressions"] == [])
    print(json.dumps({"registry": n, "correctness_entries": len(corr),
                      "sf01_entries": len(c01),
                      "empty_sweep_entries": len(empty),
                      "vanilla_entries": len(van),
                      "bench_entries": bench.get("n_queries"),
                      "audit_entries": len(aud),
                      "cost_entries": len(cost["queries"]),
                      "cost_regressions": len(cost["regressions"]),
                      "counts_match": ok}))
    if not ok:
        return 1
    return _seal_tree(args.commit)


if __name__ == "__main__":
    sys.exit(main())
