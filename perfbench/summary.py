"""Per-layer summary of traced runs.

    python3 perfbench/summary.py            # every traced run on record

Reads the spans a traced run wrote and prints, per layer, its self
time: each span's duration minus the part of it that its child spans
cover, summed over the timed ops and divided by their number. Time in
an ``op`` span that no layer span covers is the client's own glue and
is shown as ``(client)``. Then the run's per-op counts, and the
tracing overhead: how much lower the traced run's ``ops_per_s`` is
than an untraced run's of the same workload.
"""

from __future__ import annotations

import glob
import json
import os
import sys
from collections import defaultdict


def _covered(start: float, end: float, kids: list[tuple[float, float]]) -> float:
    """Length of the union of ``kids`` clipped to [start, end]."""
    total, cur = 0.0, start
    for a, b in sorted(kids):
        a, b = max(a, cur), min(b, end)
        if b > a:
            total += b - a
            cur = b
    return total


def self_times(spans: list[dict]) -> tuple[dict[str, float], int]:
    """(self seconds per layer summed over timed ops, number of ops)."""
    timed = [s for s in spans if s["op"] is not None and s["op"] >= 0]
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in timed:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    out: dict[str, float] = defaultdict(float)
    for s in timed:
        layer = s["name"].split(".")[0]
        own = s["end"] - s["start"] - _covered(s["start"], s["end"],
                                                kids[s["id"]])
        out["(client)" if layer == "op" else layer] += max(own, 0.0)
    return out, len({s["op"] for s in timed})


def untraced_for(results: str, res: dict) -> dict | None:
    """An untraced result of the same workload and variant (smoke or
    not): same seed if recorded, else the newest."""
    variant = res.get("variant", "")
    paths = sorted(glob.glob(os.path.join(
        results, f"{res['workload']}-seed*-trace0.json")),
        key=lambda p: (os.path.basename(p).startswith(
            f"{res['workload']}-seed{res['seed']}-"), os.path.getmtime(p)))
    for path in reversed(paths):
        with open(path) as f:
            other = json.load(f)
        if other.get("variant", "") == variant:
            return other
    return None


def render(res: dict, untraced: dict | None) -> str:
    with open(res["spans"]) as f:
        spans = [json.loads(line) for line in f]
    selfs, n = self_times(spans)
    total = sum(selfs.values()) or 1.0
    lines = [f"per-layer self time, {res['workload']} seed {res['seed']}, "
             f"{n} timed ops",
             f"  {'layer':12s} {'s/op':>9s} {'share':>7s}"]
    for layer, sec in sorted(selfs.items(), key=lambda kv: -kv[1]):
        lines.append(f"  {layer:12s} {sec / n:9.4f} {100 * sec / total:6.1f}%")
    counts = {k: v for k, v in res["metrics"].items()
              if not k.endswith(("_s", "_mb", "_util"))}
    lines.append("  per-op counts: " + ", ".join(
        f"{k} {v:.1f}" for k, v in sorted(counts.items())))
    traced = res["metrics"]["trace.ops_per_s"]
    if untraced:
        base = untraced["wall"]["ops_per_s"]
        lines.append(f"  tracing overhead: {100 * (base - traced) / base:.1f}% "
                     f"(ops_per_s {traced:.3f} traced vs {base:.3f} untraced, "
                     f"seed {untraced['seed']})")
    else:
        lines.append(f"  tracing overhead: no untraced run of "
                     f"{res['workload']} on record (traced ops_per_s "
                     f"{traced:.3f})")
    return "\n".join(lines)


def main() -> int:
    results = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), ".perfbench", "results")
    paths = sorted(glob.glob(os.path.join(results, "*-trace1.json")))
    if not paths:
        print(f"no traced runs under {results}", file=sys.stderr)
        return 1
    for path in paths:
        with open(path) as f:
            res = json.load(f)
        print(render(res, untraced_for(results, res)))
        print()
    return 0


if __name__ == "__main__":
    sys.exit(main())
