"""Self-test of the benchmark, at sf0.001 with a handful of ops.

    python3 perfbench/selftest.py

Checks that:

- an untraced run prints every end-to-end metric of ``BENCHMARK.json``
  with its unit, and a traced run every per-layer metric plus the
  per-layer table and a measured tracing overhead (against the
  untraced smoke run of the same workload made just before it);
- a run with one expected result deliberately corrupted reports that
  op as failed, ``"correct": false``, and exits non-zero;
- run from a directory holding only ``BENCHMARK.json`` and the
  benchmark's own files, the command exits non-zero without a result.

Exit status 0 iff every check passed.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(cwd: str, *args: str) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--seconds", "1", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300)
    return proc.returncode, proc.stdout.splitlines()


def _declared(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def main() -> int:
    failures = []

    def check(ok: bool, what: str) -> None:
        print(("ok    " if ok else "FAIL  ") + what)
        if not ok:
            failures.append(what)

    for workload, trace, kind in (("short_queries", "0", "end_to_end"),
                                  ("multi_job", "0", "end_to_end"),
                                  ("multi_job", "1", "per_layer")):
        code, out = _run(ROOT, "--workload", workload, "--seed", "7",
                         "--trace", trace, "--smoke")
        res = json.loads(out[-1]) if out and out[-1].startswith("{") else {}
        check(code == 0 and res.get("correct") is True
              and res.get("failed") == 0 and res.get("attempted", 0) >= 1,
              f"{workload} trace {trace}: exit 0, correct, nothing failed")
        got = {k: v.get("unit") for k, v in res.get("metrics", {}).items()}
        check(got == _declared(kind),
              f"{workload} trace {trace}: every {kind} metric with its unit")
        check(all(isinstance(v.get("value"), (int, float))
                  for v in res.get("metrics", {}).values()),
              f"{workload} trace {trace}: every value is a number")
        if trace == "1":
            text = "\n".join(out)
            check("per-layer self time" in text
                  and re.search(r"tracing overhead: -?[0-9.]+%", text),
                  "traced run prints the layer table and a measured "
                  "tracing overhead")

    code, out = _run(ROOT, "--workload", "short_queries", "--seed", "7",
                     "--trace", "0", "--smoke", "--inject-wrong")
    res = json.loads(out[-1]) if out and out[-1].startswith("{") else {}
    check(code != 0 and res.get("correct") is False
          and res.get("failed", 0) >= 1,
          "an injected wrong result is counted as failed and exits non-zero")

    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(os.path.join(ROOT, "perfbench"),
                    os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, out = _run(bare, "--workload", "short_queries", "--seed", "7",
                     "--trace", "0")
    shutil.rmtree(bare, ignore_errors=True)
    check(code != 0 and not any(line.startswith("{") for line in out),
          "without the program the command exits non-zero and prints no result")

    print(f"{'FAILED' if failures else 'passed'}: "
          f"{len(failures)} of the checks failed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
