"""Python worker daemon of ``get_spark`` sessions: ``pyspark.daemon``
with a zip-import cache invalidation that skips unchanged archives.

Before every task a Python worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), which calls
``invalidate_caches`` on every path importer. Under CPython 3.11 a
``zipimporter`` re-reads its archive's whole central directory, and
the worker holds one per package it imported from ``pyspark.zip`` or
the py4j zip: 14-16 re-reads of the same 1,328-entry directory, 75-180
ms of every task (BENCH_NOTES.md, "Python worker per-task zip
re-read"). ``invalidate_caches`` here re-reads an archive only when its
``os.stat`` stamp differs from the one taken at its last read.

``pyspark.daemon`` imports a custom worker module only if its name
starts with ``pyspark``, so the daemon module is the one hook that runs
before the workers fork; ``get_spark`` selects it with
``spark.python.daemon.module``. Importing this module patches nothing:
``python -m python_etl_sample_spark.worker_daemon`` installs the patch
and runs the stock daemon, whose forked workers inherit it.
"""

from __future__ import annotations

import os
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches

#: archive path -> the stamp taken just before its directory was last read
_read_stamps: dict[str, tuple[int, int, int]] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only
    when its (inode, size, mtime) stamp changed since its last read; a
    missing stamp always re-reads. The importers of one archive share
    its directory, so the first one to see a change re-reads it for all."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _read_stamps.get(self.archive) == stamp:
        self._files = files
        return
    _stock_invalidate_caches(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _read_stamps[self.archive] = stamp
    else:
        _read_stamps.pop(self.archive, None)


if __name__ == "__main__":
    import importlib

    import pyspark.daemon

    # the importable copy of this module, not ``__main__``, so the
    # workers' patch names its real module and keeps one stamp table
    from python_etl_sample_spark import worker_daemon

    zipimport.zipimporter.invalidate_caches = worker_daemon.invalidate_caches
    # stamp every archive the daemon imported from once, before the fork
    importlib.invalidate_caches()
    pyspark.daemon.manager()
