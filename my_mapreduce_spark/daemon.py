"""Python-worker daemon for the engine's local sessions.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
Python task (``pyspark.worker_util.setup_spark_files``). Before
CPython 3.13 that makes every ``zipimporter`` the worker holds re-read
its archive's whole central directory. A worker on the pandas-UDF path
holds a dozen or more importers on ``$SPARK_HOME/python/lib/pyspark.zip``
(1,328 entries), so each task paid over 0.1 s of CPU re-reading an
archive that had not changed.

``session.get_spark`` starts local sessions' daemons from this module
(``spark.python.daemon.module``). It makes a zipimporter re-read its
archive only when the archive's (inode, size, mtime_ns) stamp differs
from the one taken before the last read, then runs the stock
``pyspark.daemon``; every worker forked from it inherits the change
before its first task. CPython 3.13 made the re-read lazy, and there
the stock importer is left as it is.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> stamp taken just before its directory was last read
_stamps: dict[str, tuple[int, int, int]] = {}


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that keeps the cached
    directory while the archive's stamp is unchanged. The stamp is
    taken before the read, so an archive rewritten during the read
    gets re-read on the next call."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _stamps.pop(self.archive, None)
        _stock_invalidate(self)
        return
    stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _stock_invalidate(self)
    _stamps[self.archive] = stamp


def main() -> None:
    # pyspark.daemon reads a custom worker module from sys.argv[1]
    from pyspark import daemon

    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        # stamp every archive the daemon holds, so forked workers start
        # with the stamps instead of each re-reading once
        importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    main()
