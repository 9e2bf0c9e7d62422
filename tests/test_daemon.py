"""The worker daemon (qalsh_spark/daemon.py) must strip the fixed per-task
cost of a reused Python worker: pyspark's per-task
`importlib.invalidate_caches()` may not re-read an unchanged zip archive,
and the preloaded heap is frozen out of the per-task `gc.collect()`."""

from __future__ import annotations

import pytest


def test_reused_worker_keeps_zip_directory_and_frozen_heap(spark):
    # defined inside the test so cloudpickle ships it by value
    def _probe(_):
        import gc
        import os
        import sys
        import zipimport

        cache = zipimport._zip_directory_cache
        key = next((k for k in cache if k.endswith("pyspark.zip")), None)
        entry = cache.get(key)
        # hold the entry across tasks: an `is` check on a live object cannot
        # be fooled by a re-read dict landing on a freed address
        prev = getattr(sys, "_qalsh_zip_probe", None)
        sys._qalsh_zip_probe = entry
        same = None if prev is None else prev is entry
        return [(os.getpid(), key, same, gc.get_freeze_count())]

    sc = spark.sparkContext
    # many more tasks than cores: reused workers serve several of them
    rows = sc.parallelize(range(32), 32).mapPartitions(_probe).collect()
    if all(key is None for _pid, key, _s, _f in rows):
        pytest.skip("workers do not import pyspark from pyspark.zip")

    assert all(frozen > 0 for *_, frozen in rows), (
        "daemon did not gc.freeze() its preloaded heap"
    )
    repeat = [(pid, same) for pid, _k, same, _f in rows if same is not None]
    assert repeat, "no worker served two tasks"
    assert all(same for _pid, same in repeat), (
        f"a reused worker re-read pyspark.zip between tasks: {repeat}"
    )
