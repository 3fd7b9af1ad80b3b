"""``my_mapreduce_spark.daemon``: local sessions' Python workers keep a
zip archive's directory across tasks until the archive changes."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from my_mapreduce_spark import daemon
from my_mapreduce_spark.session import _ROOT

stale_reread = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13 re-reads zip directories lazily; the daemon "
           "leaves its zipimporter as it is")


@stale_reread
def test_directory_kept_until_archive_changes(tmp_path, monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        daemon.invalidate_caches)
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("daemon_probe_a.py", "X = 1\n")
    imp = zipimport.zipimporter(archive)
    imp.invalidate_caches()  # stamps the archive
    files = imp._files
    for _ in range(3):
        imp.invalidate_caches()
        assert imp._files is files
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module("daemon_probe_a").X == 1
        with zipfile.ZipFile(archive, "a") as z:
            z.writestr("daemon_probe_b.py", "X = 2\n")
        importlib.invalidate_caches()
        assert importlib.import_module("daemon_probe_b").X == 2
        imp.invalidate_caches()
        assert imp._files is not files
        assert "daemon_probe_b.py" in imp._files
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        for name in ("daemon_probe_a", "daemon_probe_b"):
            sys.modules.pop(name, None)


@stale_reread
def test_worker_keeps_pyspark_zip_directory_across_tasks(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "my_mapreduce_spark.daemon"
    assert _ROOT in conf.get("spark.executorEnv.PYTHONPATH").split(os.pathsep)

    def zip_dirs(batches):
        # one row per task: the worker's pid and the ids of the
        # directory objects its pyspark.zip importers hold (nested, so
        # it is pickled by value: workers cannot import tests/)
        import zipimport

        import pandas as pd

        dirs = [imp._files for imp in sys.path_importer_cache.values()
                if isinstance(imp, zipimport.zipimporter)
                and imp.archive.endswith("pyspark.zip")]
        # kept alive in the worker, so a later task's directory cannot
        # reuse the address of one freed since
        zipimport.__dict__.setdefault("_daemon_probe_kept", []).append(dirs)
        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()],
                            "dirs": [sorted({id(d) for d in dirs})]})

    rows = (spark.range(64, numPartitions=64)
            .mapInPandas(zip_dirs, "pid long, dirs array<long>").collect())
    if not any(r.dirs for r in rows):
        pytest.skip("workers import pyspark from a directory, not a zip")
    by_worker: dict[int, list] = {}
    for r in rows:
        by_worker.setdefault(r.pid, []).append(r.dirs)
    reused = [d for d in by_worker.values() if len(d) > 1]
    assert reused  # 64 tasks on 4 cores reuse workers
    for dirs in reused:
        assert all(d == dirs[0] for d in dirs)
