"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload short_queries --seed 1 \\
        --seconds 15 --trace 0

Runs from the root of a checkout. Generates the workload's seeded
inputs under ``.perfbench/``, starts the measured client
(``perfbench/worker.py``) in a fresh process with the engine's
production session at ``local[<usable cores>]``, waits for it, and
prints human-readable lines followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones of
``BENCHMARK.json``; with ``--trace 1`` the client is traced and the
metrics are the per-layer ones, and a per-layer self-time table is
printed. Exit status is 0 only when every op was verified correct.

Fixtures are the read-only tables of ``TESTDATA.md`` under
``--fixtures``; everything the run writes stays under
``.perfbench/`` in the checkout. ``--smoke`` runs a small version at
sf0.001 for the self-test; ``--inject-wrong`` corrupts one expected
result so the self-test can see it counted as failed.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import summary  # noqa: E402
from perfbench.workloads import WORKLOADS, write_corpus  # noqa: E402

DEADLINE_S = 160          # the client, set-up included; 180 s is the cap
_PR_SET_CHILD_SUBREAPER = 36


def _metric_units(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _children() -> list[int]:
    me, out = os.getpid(), []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    raw = f.read()
            except OSError:
                continue
            if int(raw[raw.rindex(")") + 2:].split()[1]) == me:
                out.append(int(name))
    return out


def _stop_all(deadline_s: float = 8.0) -> None:
    """Stop and reap every process left below this one. As a child
    subreaper this process inherits the JVM and Python workers once the
    client exits, so none can outlive the run."""
    end = time.monotonic() + deadline_s
    sig = signal.SIGTERM
    while True:
        pids = _children()
        for pid in pids:
            try:
                if os.waitpid(pid, os.WNOHANG)[0] == 0:
                    os.kill(pid, sig)
            except ChildProcessError:
                pass
            except ProcessLookupError:
                pass
        if not pids:
            return
        if time.monotonic() > end:
            sig = signal.SIGKILL
        time.sleep(0.1)


def _tail_percentile(walls: list[float]) -> tuple[float, float] | None:
    """(percentile, value): the highest percentile of op wall time with
    at least ten samples beyond it, or None with fewer than 11 ops."""
    if len(walls) < 11:
        return None
    s = sorted(walls)
    k = len(s) - 11
    return 100.0 * (k + 1) / len(s), s[k]


def _end_to_end(res: dict) -> dict[str, float]:
    """The gated metrics. Op wall time is not one of them: on a shared
    host it moves with the neighbours' load (up to 2x at 15-20% steal)
    while CPU time moves far less, so wall figures are diagnostics."""
    by_entry: dict[str, list[float]] = {}
    for o in res["ops"]:
        by_entry.setdefault(o["name"], []).append(o["cpu_s"])
    # each entry's median over the passes: the first pass still pays for
    # JIT compilation, and a GC cycle or JIT burst lands in whichever op
    # is running and can add half again to its CPU
    return {"cpu_s_per_op": statistics.mean(
                statistics.median(v) for v in by_entry.values()),
            "setup_s": res["setup_s"]}


def _wall(res: dict) -> dict[str, float]:
    """Wall-time diagnostics of the timed phase."""
    walls = [o["wall_s"] for o in res["ops"]]
    ok = sum(1 for o in res["ops"] if o["error"] is None)
    return {"ops_per_s": ok / sum(walls),
            "op_p50_s": statistics.median(walls)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fixtures", default="/root/testdata")
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--inject-wrong", action="store_true")
    args = ap.parse_args()
    t_start = time.monotonic()

    wl = WORKLOADS[args.workload]
    sf_dir = os.path.join(args.fixtures,
                          "sf0.001" if args.smoke else f"sf{wl.sf}")
    for need in (os.path.join(ROOT, "my_mapreduce_spark", "__init__.py"),
                 os.path.join(ROOT, "tools", "check_correctness.py"),
                 os.path.join(sf_dir, "lineitem.parquet")):
        if not os.path.exists(need):
            print(f"perfbench: missing {need}; run from a full checkout",
                  file=sys.stderr)
            return 2

    base = os.path.join(ROOT, ".perfbench")
    # smoke and injected-wrong runs are kept apart from real ones, so the
    # tracing overhead never compares a traced run with a smoke run
    variant = "-smoke" * args.smoke + "-wrong" * args.inject_wrong
    tag = f"{wl.name}-seed{args.seed}{variant}-trace{args.trace}"
    work = os.path.join(base, "run")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)

    corpus = []
    if wl.mapreduce:  # seeded input generation, before the clock starts
        corpus = write_corpus(os.path.join(work, "corpus"), args.seed,
                              **({"kb": (4, 12)} if args.smoke else {}))

    env = dict(os.environ)
    env.pop("SPARK_MASTER", None)
    tmp = os.path.join(work, "tmp")
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # the JVM's scratch files go to the run dir; no hsperfdata in /tmp
        "SPARK_SUBMIT_OPTS": (env.get("SPARK_SUBMIT_OPTS", "")
                              + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                              ).strip(),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
    })
    cmd = [sys.executable, "-m", "perfbench.worker",
           "--workload", wl.name, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--sf-dir", sf_dir, "--work", work]
    if corpus:
        cmd += ["--corpus", *corpus]
    if args.smoke:
        cmd += ["--pool-limit", "3"]
    if args.inject_wrong:
        cmd.append("--inject-wrong")

    prctl = ctypes.CDLL(None).prctl
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    log_path = os.path.join(base, f"{tag}.log")
    with open(log_path, "w") as log:
        cmd += ["--spawned", repr(time.monotonic())]
        child = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                                 stderr=subprocess.STDOUT)
        try:
            code = child.wait(timeout=DEADLINE_S
                              - (time.monotonic() - t_start))
        except subprocess.TimeoutExpired:
            child.kill()
            child.wait()
            code = None
        finally:
            _stop_all()
    res_path = os.path.join(work, "worker.json")
    if code != 0 or not os.path.exists(res_path):
        print(f"perfbench: client {'timed out' if code is None else f'exited {code}'}"
              f"; log in {log_path}", file=sys.stderr)
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        return 1
    with open(res_path) as f:
        res = json.load(f)

    ops = res["ops"]
    failed = sum(1 for o in ops if o["error"] is not None)
    res["wall"] = wall = _wall(res)
    if args.trace:
        layers = dict.fromkeys(_metric_units("per_layer"), 0.0)
        layers.update(res["layers"])
        layers["trace.ops_per_s"] = wall["ops_per_s"]
        values, units = layers, _metric_units("per_layer")
    else:
        values, units = _end_to_end(res), _metric_units("end_to_end")
    res["metrics"], res["variant"] = values, variant
    out = os.path.join(results, tag + ".json")
    if args.trace:
        spans = out[:-len(".json")] + ".spans.jsonl"
        shutil.copy(res["spans"], spans)
        res["spans"] = spans
    with open(out, "w") as f:
        json.dump(res, f)
    shutil.rmtree(work, ignore_errors=True)

    walls = [o["wall_s"] for o in ops]
    print(f"workload {wl.name}  seed {args.seed}  trace {args.trace}  "
          f"sf_dir {sf_dir}  cores {res['cores']}  "
          f"passes {len({o['pass'] for o in ops})}")
    print(f"command {time.monotonic() - t_start:.1f} s: set-up "
          f"{res['setup_s']:.1f} s, verification {res['verify_s']:.1f} s, "
          f"warm-up {res['warm_s']:.1f} s, timed ops {sum(walls):.1f} s")
    print(f"ops {len(ops)}  failed {failed}  failed_frac "
          f"{failed / len(ops):.4f}  host steal {res['steal_pct']:.2f}%  "
          f"peak_rss_mb {res['peak_rss_mb']:.0f} (diagnostics)")
    tail = _tail_percentile(walls)
    print(f"ops_per_s {wall['ops_per_s']:.4f}  op_p50_s "
          f"{wall['op_p50_s']:.4f} s (n={len(walls)})  op_tail_s "
          + (f"p{tail[0]:.1f} = {tail[1]:.4f} s" if tail
             else f"omitted: {len(walls)} ops < 11") + " (diagnostics)")
    for o in ops:
        if o["error"]:
            print(f"FAILED {o['name']}: {o['error']}")
    for name, unit in units.items():
        print(f"  {name:28s} {values[name]:12.4f} {unit}")
    if args.trace:
        print(summary.render(res, summary.untraced_for(results, res)))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u}
                    for k, u in units.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
