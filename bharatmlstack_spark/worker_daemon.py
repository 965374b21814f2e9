"""Python worker daemon for sessions built by ``session.get_spark``.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). On Python 3.11 that
makes every cached ``zipimporter`` re-read the whole central directory of
its archive, and Spark puts its own archives on every worker's path:
``pyspark.zip`` (one importer per package directory imported from it) and
the spark-core jar. On a 4-vCPU host that re-reading took 170-250 ms per
task, more than the work of a small pandas UDF task.

Run as ``python -m bharatmlstack_spark.worker_daemon`` (Spark does so through
``spark.python.daemon.module``), this module replaces
``zipimporter.invalidate_caches`` with :func:`invalidate_caches`, which
re-reads an archive only when its ``(mtime_ns, size)`` differs from when it
was last read, reads each archive once before any worker forks, and then
runs the stock ``pyspark.daemon.manager``. Forked workers inherit both the
patch and the directories already read.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches

# archive path -> (mtime_ns, size) stat'ed just before its directory was
# last read; process-wide, like the _zip_directory_cache it describes
_read_at: dict[str, tuple[int, int] | None] = {}


def _stat(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive.

    An importer whose archive still has the stamp it had at the last read
    adopts the shared directory read then; otherwise the archive is read
    again, once for all importers of that archive."""
    stamp = _stat(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _read_at.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    _read_at[self.archive] = stamp


if __name__ == "__main__":
    from pyspark.daemon import manager

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()  # read each archive once, before workers fork
    manager()
