"""Dump `.explain("formatted")` for named registered queries to files.

Used by the optimization rounds to commit before/after plan evidence:

    python tools/dump_plans.py --outdir plans/r11 --suffix _before name...

Each query's plan is the one explain_audit checks,
``runner.audit_plan``: a registered first-iteration builder's plan
(iterative loops, foreachBatch merges), else the executed plan of the
last micro-batch of the stream the query runs, else the query's own
plan.

Expression ids (``#123``), ``plan_id=123`` tags, lambda variable
names, UUIDs, temp-dir suffixes and object addresses are renumbered
in order of first appearance, so two dumps of the same plan from
different processes (streaming plans included) diff clean while the
links inside a plan stay.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from my_mapreduce_spark.registry import CapturedPlan  # noqa: E402
from tools import runner  # noqa: E402


def formatted_plan(out) -> str:
    """The formatted plan of a built query (or of a captured one)."""
    if isinstance(out, CapturedPlan):
        return out.formatted
    mode = out.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
    return out._jdf.queryExecution().explainString(mode.fromString("formatted"))


# (kept text, id) pairs, each kind of id on its own counter: expression
# ids, exchange plan ids, the names PySpark gives lambda variables
# (``x_<n>`` from a process-wide counter), UUIDs (part files, state
# runIds), the random suffix of a ``tempfile.mkdtemp(prefix="mmr_..._")``
# directory and an object's ``@<hex>`` address
_IDS = (
    (r"(#)(\d+)", ""),
    (r"(plan_id=)(\d+)", ""),
    (r"(lambda x_)(\d+)", ""),
    (r"()([0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12})",
     "uuid"),
    (r"(/mmr_\w*?_)([a-z0-9_]{8})(?=/)", "tmp"),
    (r"(\w@)([0-9a-f]+)\b", ""),
)


def renumber_ids(text: str) -> str:
    """Ids that differ from run to run renumbered 0, 1, ... by first
    appearance, each kind on its own counter (see ``_IDS``)."""
    for pat, label in _IDS:
        ids: dict[str, int] = {}
        text = re.sub(pat, lambda m: m.group(1) + label + str(
            ids.setdefault(m.group(2), len(ids))), text)
    return text


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--outdir", default="plans/r11")
    ap.add_argument("--suffix", default="")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    spark = runner.start("dump-plans")
    os.makedirs(args.outdir, exist_ok=True)
    for name in args.names:
        res = runner.run(spark, name, args.sf, formatted_plan,
                         fn=lambda s, d: runner.audit_plan(s, name, d))
        if res.error is not None:
            print(f"{name}: FAILED {res.error}", file=sys.stderr)
            continue
        text = renumber_ids(res.value)
        path = os.path.join(args.outdir, f"{name}{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(text if text.endswith("\n") else text + "\n")
        print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
