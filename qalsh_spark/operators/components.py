"""Connected components over the verified edge list, via iterative DataFrame
self-joins (SURVEY.md §2.3 J5 — absent in the reference, required by the north
rule for clustering).

Algorithm: min-label propagation with an adjacency that is symmetrized once.
Each iteration every vertex takes min(own label, neighbors' labels); a
localCheckpoint truncates the lineage so the plan doesn't grow exponentially.
Convergence is O(graph diameter) iterations; the pair generator's star rule
(operators/pairs.py) keeps hot-bucket components at diameter 2, so in practice
this converges in a handful of rounds even on 10^12-doc inputs.

Shuffle discipline: the adjacency is hash-partitioned by the iteration join
key (dst) ONCE and localCheckpoint'd — checkpoint preserves partitioning
(when AQE is off, the below-10M default), and the labels side is always
partitioned by doc_id as a groupBy/join output, so each iteration costs ONE
exchange (the neighbor-min aggregate) instead of three.  Convergence
detection is an O(1) decimal label-sum over the checkpointed labels — labels
only decrease, so an unchanged sum means a fixed point.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark import StorageLevel
from pyspark.sql import DataFrame

# Storage level for every lineage-truncating checkpoint of a LARGE DataFrame.
# The JVM default for Dataset.localCheckpoint is Scala's MEMORY_AND_DISK,
# which stores DESERIALIZED Java objects: blocks that spill to disk under
# memory pressure are Java-serialized, and every later read re-inflates the
# whole block into the memory store (BlockManager.maybeCacheDiskValuesInMemory)
# — at the 4M-doc scaling leg, 8 concurrent tasks re-inflating spilled
# adjacency blocks OOM-killed a 24g heap.  The SERIALIZED level streams disk
# blocks without re-inflation and its memory-store puts reserve bytes up
# front, degrading to disk reads instead of heap death.
#
# NOTE the naming trap: PySpark's StorageLevel.MEMORY_AND_DISK is the
# SERIALIZED variant (deserialized=False) — it is Scala's
# MEMORY_AND_DISK_SER, NOT Scala's same-named deserialized level.  The
# assert pins that so a PySpark version drift or an "equivalent-looking"
# edit cannot silently reintroduce the deserialized OOM.
_CKPT_LEVEL = StorageLevel.MEMORY_AND_DISK
assert not _CKPT_LEVEL.deserialized, (
    "_CKPT_LEVEL must be a serialized storage level (see OOM note above)"
)


def _release_checkpoint(df: DataFrame, blocking: bool = False) -> None:
    """Deterministically free a localCheckpoint'd DataFrame's backing RDD.

    DataFrame.unpersist() is a no-op for checkpoints (the data lives in a
    persisted RDD wrapped by a LogicalRDD, not in the SQL cache manager), so
    a superseded checkpoint otherwise lingers until the ContextCleaner's
    weak-reference sweep — an O(iterations) cache bound instead of O(1).
    Unpersisting the LogicalRDD's RDD is safe ONLY once nothing will read
    the frame again: a local checkpoint has no lineage to recompute from.
    `blocking` waits until the blocks are gone (DedupResult.release(), whose
    callers may probe the block manager right after).
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(blocking)
    except Exception:
        pass  # best-effort: worst case we fall back to the ContextCleaner


def connected_components(
    edges: DataFrame,
    max_iter: int = 50,
    verbose: bool = False,
    persists: list | None = None,
) -> DataFrame:
    """edges(a, b) -> components(doc_id, cluster_id) for every vertex that
    appears in an edge. cluster_id = min doc_id in the component.

    Raises RuntimeError when the labels are still changing after `max_iter`
    rounds: unconverged labels split components, a silent wrong answer.

    `persists`: optional list collecting the final labels checkpoint the
    returned frame reads from, so the caller can release it once the
    components are consumed (DedupResult.release())."""
    import time as _time

    _t0 = _time.time()
    # Symmetrize with ONE scan via explode instead of a self-union: Spark's
    # plan canonicalization fails to reuse cache/exchange across self-union
    # branches (measured 50x slower), and explode halves the input reads at
    # any scale.  No distinct: the edge list is already one row per (a,b)
    # (verify folds lanes; exact/escalation edges are disjoint by
    # construction), so both directions are unique.
    #
    # Repartition by the iteration join key ONCE: localCheckpoint preserves
    # the partitioning, so every loop iteration's sym-side of the neighbor
    # join needs no exchange, and the labels side is always partitioned by
    # doc_id (groupBy/join outputs) — the per-iteration cost drops to ONE
    # exchange (the groupBy(src) aggregate) instead of three.
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                    F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .repartition(F.col("dst"))
    )
    sym = sym.localCheckpoint(True, _CKPT_LEVEL)
    if verbose:
        print(f"[cc] sym ckpt {_time.time()-_t0:.1f}s")
    labels = (
        sym.groupBy("src")
        .agg(F.least(F.min("dst"), F.first("src")).alias("label"))
        .withColumnRenamed("src", "doc_id")
        .withColumn("label", F.least(F.col("label"), F.col("doc_id")))
        .localCheckpoint(True, _CKPT_LEVEL)
    )
    if verbose:
        print(f"[cc] labels init {_time.time()-_t0:.1f}s")

    # Labels only ever decrease, so the exact (decimal — no int64 overflow)
    # sum of labels strictly decreases iff ANY label changed: convergence is
    # one cheap aggregate per iteration instead of a self-join + count.
    def _label_sum(df: DataFrame) -> object:
        return df.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]

    prev_sum = _label_sum(labels)
    for it in range(max_iter):
        # neighbor-min pass: label'(v) = min(label(v), min_{u~v} label(u))
        neigh = (
            sym.join(labels.withColumnRenamed("doc_id", "dst"), on="dst")
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
            .withColumnRenamed("src", "doc_id")
        )
        new_labels = (
            labels.join(neigh, on="doc_id", how="left")
            .select(
                "doc_id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(True, _CKPT_LEVEL)
        )
        new_sum = _label_sum(new_labels)
        # The superseded labels checkpoint is dead the moment new_labels is
        # materialized (eager ckpt) — release it now so the loop caches at
        # most 2 labels RDDs (prev + new) at any instant, deterministically,
        # instead of O(iterations) frames awaiting the ContextCleaner.
        _release_checkpoint(labels)
        labels = new_labels
        if verbose:
            print(f"[cc] iter={it} sum={new_sum} t={_time.time()-_t0:.1f}s")
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    else:
        _release_checkpoint(labels)
        _release_checkpoint(sym)
        raise RuntimeError(
            f"connected_components did not converge in max_iter={max_iter} "
            "rounds (label sum still falling); the labels would split "
            "components"
        )
    # sym is not referenced by the returned (checkpointed) labels frame.
    _release_checkpoint(sym)
    if persists is not None:
        persists.append(labels)
    return labels.withColumnRenamed("label", "cluster_id")


def clusters_with_representatives(
    components: DataFrame, signatures: DataFrame
) -> DataFrame:
    """Join components back to doc metadata and pick a canonical representative
    per cluster: earliest (warc_ts, url) — FIXTURES.md §3, the reference's
    min_by analog (SURVEY.md §2.4 A4).  Singletons (docs with no dup edge)
    are included with cluster_id = own doc_id."""
    meta = signatures.select("doc_id", "url", "warc_ts")
    labeled = meta.join(components, on="doc_id", how="left").withColumn(
        "cluster_id", F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    )
    reps = labeled.groupBy("cluster_id").agg(
        F.min_by("url", F.struct("warc_ts", "url")).alias("representative_url"),
        F.count("*").alias("cluster_size"),
    )
    return labeled.join(reps, on="cluster_id").select(
        "doc_id", "url", "cluster_id", "representative_url", "cluster_size"
    )
