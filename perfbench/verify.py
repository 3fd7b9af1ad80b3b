"""Output checks, all untimed.

- Registry queries: each distinct query's DuckDB oracle is run once per
  run. Its row count is what every timed op of that query must return,
  and its values are compared once, order-insensitively, with the
  normalization of ``tools/check_correctness.py``.
- ``mr_apps``: the reference's apps run sequentially over the same
  generated files, and the Spark output must match that run byte for
  byte, once its lines are sorted; each output file must also be sorted
  by key, as the reference's mr-out files are.
"""

from __future__ import annotations

import collections
import glob
import os

import duckdb

from tools.check_correctness import _normalize


class Oracle:
    """DuckDB views over one fixture directory."""

    def __init__(self, sf_dir: str):
        from my_mapreduce_spark.io import TABLES

        self.con = duckdb.connect()
        for t in TABLES:
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                         f"'{sf_dir}/{t}.parquet'")

    def frame(self, sql: str):
        return self.con.sql(sql).df()


def compare(got, want) -> str | None:
    """None when the two pandas frames hold the same rows, else why not."""
    if len(got) != len(want):
        return f"row count {len(got)} != oracle {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"
    a, b = _normalize(got), _normalize(want)
    if not a.equals(b):
        diff = (a != b) & ~(a.isna() & b.isna())
        return f"{int(diff.to_numpy().sum())} cells differ from the oracle"
    return None


def sequential_lines(app: str, paths: list[str]) -> list[str]:
    """The app's output lines from a plain sequential run of its map
    and reduce closures, sorted."""
    from my_mapreduce_spark.__main__ import APPS

    mapf, reducef = APPS[app]
    inter = collections.defaultdict(list)
    for p in paths:
        with open(p, encoding="utf-8") as f:
            for k, v in mapf(os.path.basename(p), f.read()):
                inter[k].append(v)
    return sorted(f"{k} {reducef(k, vs)}" for k, vs in inter.items())


def mr_output_error(out_dir: str, want: list[str]) -> str | None:
    """None when the mr-out files under ``out_dir`` hold exactly
    ``want`` and each file is sorted by key, else why not."""
    got = []
    for path in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
        with open(path, encoding="utf-8") as f:
            lines = f.read().splitlines()
        keys = [line.partition(" ")[0] for line in lines]
        if keys != sorted(keys):
            return f"{os.path.basename(path)} is not sorted by key"
        got.extend(lines)
    got.sort()
    if got != want:
        return (f"{len(got)} output lines differ from the sequential run's "
                f"{len(want)}")
    return None
