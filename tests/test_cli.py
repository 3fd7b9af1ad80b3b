"""python -m my_mapreduce_spark — the reference's run surface
(mrcoordinator + mrworker + plugin in one process). Golden check: on
three text inputs cut from the fixture corpus, the CLI's wc output
must byte-match a sequential pure-Python run of the same app
closures, in the reference's mr-out layout (one file per reduce
partition, '<key> <value>' lines, keys sorted within each file)."""

from __future__ import annotations

import collections
import glob
import os

import pyarrow.parquet as pq

from tests.conftest import SF_DIR


def _sequential_wc(paths):
    from my_mapreduce_spark import apps

    intermediate = collections.defaultdict(list)
    for p in paths:
        with open(p, encoding="utf-8") as fh:
            for k, v in apps.wc_map(os.path.basename(p), fh.read()):
                intermediate[k].append(v)
    return {k: apps.wc_reduce(k, vs) for k, vs in intermediate.items()}


def _write_inputs(tmp_path):
    """Three small pg-*.txt inputs: the sf0.001 documents' texts,
    dealt round-robin, one document per line."""
    texts = pq.read_table(f"{SF_DIR}/documents.parquet",
                          columns=["text"]).column("text").to_pylist()
    paths = []
    for i in range(3):
        p = tmp_path / f"pg-{i}.txt"
        p.write_text("\n".join(texts[i::3]) + "\n", encoding="utf-8")
        paths.append(str(p))
    return paths


def test_cli_wc_matches_sequential_golden(spark, tmp_path):
    from my_mapreduce_spark.__main__ import run

    inputs = _write_inputs(tmp_path)
    out = str(tmp_path / "out")
    run("wc", out, inputs, n_reduce=4, spark=spark)

    files = sorted(glob.glob(out + "/part-*"))
    assert len(files) == 4                 # one file per reduce partition
    got = {}
    for f in files:
        prev = None
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                k, _, v = line.rstrip("\n").partition(" ")
                got[k] = v
                assert prev is None or k >= prev  # sorted within file
                prev = k
    assert got == _sequential_wc(inputs)


def test_cli_rejects_unknown_app(spark, tmp_path):
    import pytest

    from my_mapreduce_spark.__main__ import run

    with pytest.raises(SystemExit, match="unknown app"):
        run("nope", str(tmp_path / "x"), ["a.txt"], spark=spark)
