"""Custom pyspark worker daemon that strips the fixed Python cost from every
worker and every task.

Per worker: pyspark's default daemon forks a fresh worker per executor slot,
and each worker pays the numpy/pandas/pyarrow import tax (~1-2 s) on its
first task — across 32 slots and several distinct Python stages that is
minutes of aggregate "time to initialize Python workers" (observed: 534
task-seconds on a 45 s job).  Importing the libraries in the daemon BEFORE
it forks lets every worker inherit them via copy-on-write for free.

Per task: a reused worker still pays two fixed costs on every task.
  - `pyspark.worker_util.setup_spark_files` ends with
    `importlib.invalidate_caches()`, and every `zipimporter` on sys.path
    re-reads its archive's central directory in response.  With pyspark
    imported from `pyspark.zip` that is 16 importers re-reading pyspark.zip,
    the py4j zip and the spark-core jar (5,359 entries): 0.16-0.22 CPU-s
    per task on a 4-core host, before the task does any work.  The patch
    below re-reads an archive only when its (size, mtime) changed since
    this importer last read it, so `--py-files` archives that Spark ships
    or replaces mid-application are still picked up.
  - the daemon runs `gc.collect()` after every task, which walks the ~73k
    objects the preloads created (~25 ms).  `gc.freeze()` moves them to
    the permanent generation, which the collector skips (and whose pages
    the collector then no longer dirties, so they stay shared after fork).

Enabled via spark.python.daemon.module=qalsh_spark.daemon (session.py);
requires the repo root on PYTHONPATH (session.py exports it).
"""

import gc
import os
import sys
import zipimport

import numpy  # noqa: F401  (preload: inherited by forked workers)
import pandas  # noqa: F401
import pyarrow  # noqa: F401

import qalsh_spark.kernels  # noqa: F401

from pyspark.daemon import manager

_reread_archive = zipimport.zipimporter.invalidate_caches


def _archive_stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


def _reread_if_changed(self) -> None:
    """zipimporter.invalidate_caches that skips the archive re-read while
    the archive is unchanged.  The stamp is taken BEFORE the read, so a
    write racing the read shows up as a changed stamp on the next call."""
    stamp = _archive_stamp(self.archive)
    if stamp is not None and getattr(self, "_qalsh_stamp", None) == stamp:
        return
    _reread_archive(self)
    self._qalsh_stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = _reread_if_changed
    # Stamp every importer the preloads created (one read per daemon, not
    # per task), then freeze the preloaded heap out of the collector's reach.
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()
    gc.freeze()
    manager()
