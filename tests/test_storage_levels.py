"""Every RDD block the engine stores must use a SERIALIZED storage level.

The JVM default for both `Dataset.persist()` and `Dataset.localCheckpoint()`
is the DESERIALIZED MEMORY_AND_DISK level.  Deserialized blocks that spill
to disk under memory pressure are Java-serialized on the way out and
re-inflated WHOLE into the memory store on every later read
(`BlockManager.maybeCacheDiskValuesInMemory`) — with N concurrent reader
tasks that is an O(N x block) heap spike, which OOM-killed the 4M-doc
local[8] scaling leg on a 24 GB heap (connected-components adjacency
checkpoint; BENCH/BASELINE.md round-3 status box).  Serialized blocks
stream from disk and reserve memory-store bytes up front, so pressure
degrades to disk reads instead of heap death.

This test runs the flagship pipeline (which exercises every persist /
localCheckpoint site: stage-boundary caches, verify intermediates, the
hot-bucket checkpoint, CC adjacency + label checkpoints) and asserts no
block in the block manager is stored deserialized — pinning the fix the
same way the plan-shape tests pin the IVF/SRP rewrites.
"""

from __future__ import annotations

import pytest

from qalsh_spark.config import DedupConfig
from qalsh_spark.datagen import cached_corpus
from qalsh_spark.plans.pipeline import run_dedup
from qalsh_spark.sources.catalog import read_documents


def test_no_bare_persist_or_checkpoint_in_source():
    """Static guard: the runtime check below only exercises the flagship
    path, so also reject BARE `.persist()` / `.localCheckpoint()` calls
    (which take the deserialized JVM default) anywhere in the engine or
    the job entry points.  Every call must pass an explicit level
    (`_CKPT_LEVEL` or a StorageLevel)."""
    import os
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    bare = re.compile(r"\.(?:persist|localCheckpoint)\(\s*\)")
    offenders = []
    for root in ("qalsh_spark", "jobs"):
        for dirpath, _dirs, files in os.walk(os.path.join(repo, root)):
            for fn in files:
                if not fn.endswith(".py"):
                    continue
                path = os.path.join(dirpath, fn)
                for i, line in enumerate(open(path), 1):
                    if bare.search(line):
                        offenders.append(f"{path}:{i}: {line.strip()}")
    assert not offenders, (
        "bare persist()/localCheckpoint() uses the deserialized JVM default "
        "(heap-OOM risk under spill — pass _CKPT_LEVEL): " + "; ".join(offenders)
    )


def test_flagship_stores_no_deserialized_blocks(spark):
    docs = read_documents(spark, cached_corpus(300))
    res = run_dedup(spark, docs, DedupConfig(), checkpoint_root=None)
    assert res.clusters.count() > 0  # materialize every stage + checkpoint

    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    stored = [i for i in infos if i.numCachedPartitions() > 0]
    # the pipeline persists stage boundaries and checkpoints CC state, so
    # an empty block manager would mean the probe itself went stale
    assert stored, "expected cached/checkpointed RDD blocks after the run"
    offenders = [
        f"{i.name()} (id={i.id()}): {i.storageLevel().description()}"
        for i in stored
        if i.storageLevel().deserialized()
    ]
    assert not offenders, (
        "deserialized-level blocks found (heap-OOM risk under spill): "
        + "; ".join(offenders)
    )
    res.release()


def test_cc_releases_superseded_checkpoints(spark):
    """connected_components must release each superseded labels checkpoint
    (and the adjacency) deterministically instead of leaving O(iterations)
    checkpointed RDDs for the ContextCleaner: on a path graph that needs
    several min-propagation rounds, exactly ONE new cached RDD (the final
    labels checkpoint) may remain after the call returns.  Parity is
    asserted against the trivial oracle (a path is one component labeled by
    its min vertex)."""
    from qalsh_spark.operators.components import connected_components

    def cached_ids():
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return {i.id() for i in infos if i.numCachedPartitions() > 0}

    before = cached_ids()
    # path 0-1-2-...-29: diameter 29 -> several iterations even with
    # doubling-style min propagation; single component labeled 0.
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(29)], "a long, b long"
    )
    comps = connected_components(edges)
    rows = comps.collect()
    assert {r["doc_id"] for r in rows} == set(range(30))
    assert {r["cluster_id"] for r in rows} == {0}

    leaked = cached_ids() - before
    assert len(leaked) <= 1, (
        "connected_components left more than the final labels checkpoint "
        f"cached (leaked RDD ids: {sorted(leaked)}) — superseded per-"
        "iteration checkpoints must be released inside the loop"
    )


def test_cc_raises_when_not_converged(spark):
    """Min-label propagation moves a label one hop per round, so a path
    longer than 2 x max_iter cannot converge: connected_components must
    raise instead of returning labels that split the path into clusters."""
    from qalsh_spark.operators.components import connected_components

    max_iter = 3
    n = 2 * max_iter + 2
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a long, b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=max_iter)
    # the same path converges, to one component, given enough rounds
    comps = connected_components(edges, max_iter=n).collect()
    assert {r["cluster_id"] for r in comps} == {0}


@pytest.mark.parametrize("with_checkpoints", [False, True])
def test_release_frees_every_cache_of_the_run(spark, tmp_path, with_checkpoints):
    """DedupResult.release() must free every cache the run made — persisted
    frames AND local checkpoints (the pair generator's hot-key table, CC's
    final labels), whose DataFrame.unpersist() is a no-op — with and
    without a checkpoint catalog."""

    def cached_ids():
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return {i.id() for i in infos if i.numCachedPartitions() > 0}

    before = cached_ids()
    docs = read_documents(spark, cached_corpus(300))
    root = str(tmp_path / "ckpt") if with_checkpoints else None
    res = run_dedup(spark, docs, DedupConfig(), checkpoint_root=root)
    assert res.clusters.count() > 0
    assert cached_ids() - before, "the run cached nothing: probe went stale"
    res.release()
    leaked = cached_ids() - before
    assert not leaked, f"RDDs still cached after release(): {sorted(leaked)}"


def test_sign_partition_count_bounded_by_row_budget(spark):
    """The signing stage must bound per-partition rows when the input row
    count is known: a core-count-only repartition target packed 4M docs into
    6 partitions at local[2] (the cached `prepared` input makes inputFiles()
    return [], so the repartition ALWAYS fires) and OOM'd the 8g scaling leg
    (BENCH/logs/leg2-fail-1787124371.stderr).  With rows_hint the target is
    max(3*parallelism, ceil(rows / 62_500)) regardless of core count."""
    from qalsh_spark.functions.signatures import (
        _SIGN_ROWS_PER_PARTITION,
        sign_documents,
    )

    docs = read_documents(spark, cached_corpus(300))
    cores = spark.sparkContext.defaultParallelism

    # hint dominates: 4M docs -> 64 partitions even on a tiny local master
    signed = sign_documents(docs.select("url", "text"), DedupConfig(),
                            rows_hint=4_000_000)
    want = max(3 * cores, -(-4_000_000 // _SIGN_ROWS_PER_PARTITION))
    assert signed.rdd.getNumPartitions() == want

    # small hint degrades to the parallelism target (unchanged behavior)
    signed_small = sign_documents(docs.select("url", "text"), DedupConfig(),
                                  rows_hint=300)
    assert signed_small.rdd.getNumPartitions() == 3 * cores
