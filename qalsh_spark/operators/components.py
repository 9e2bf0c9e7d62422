"""Connected components over the verified edge list (SURVEY.md §2.3 J5 —
absent in the reference, required by the north rule for clustering).

Algorithm: a per-partition union-find pre-contraction, then rounds of
large-star and small-star (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC 2014), each step one hash exchange plus a
local group operation over NumPy arrays (`kernels.star_forest`,
`kernels.large_star`, `kernels.small_star`).

- Pre-contraction: every input partition of the edges becomes a spanning
  forest of stars rooted at its local minima, with no exchange.  Edges
  whose endpoints meet inside one partition never reach a round.
- Rounds: large-star re-links each vertex's larger neighbors to the
  smallest vertex of its neighborhood; small-star re-links each vertex's
  smaller neighbors to the smallest of them.  Both steps only move links
  toward smaller vertices and never disconnect, so the graph stays a
  graph of the same components.  A round in which neither step moves a
  link has a fixed point of both as its input: every component is a star
  centered at its minimum, and `(doc_id, cluster_id)` is read off the
  stars.  The alternation needs O(log^2 n) rounds in the worst case and
  about log2(n) in practice (a 10k-vertex path with shuffled ids: 11-14);
  min-label propagation needs one round per hop of the diameter.
- One Spark job per round: both steps are chained and materialized by
  one eager localCheckpoint, the moved-link counts come back from that
  job as an accumulator, and the previous round's checkpoint is released
  at once, so at most two rounds are cached at any instant.
- Exchange width: the round exchanges use the edge input's own partition
  count, so a small edge list pays for few shuffle blocks.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark import StorageLevel
from pyspark.sql import DataFrame

from qalsh_spark import kernels as K

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

_EDGES = "x long, y long"


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


def _partition_step(kernel, changed=None):
    """mapInPandas body running one graph kernel over a partition's whole
    edge list; adds the links a star step moved to `changed`."""

    def run(batches):
        frames = list(batches)
        if not frames:
            return
        x = np.concatenate([f["x"].to_numpy(np.int64) for f in frames])
        y = np.concatenate([f["y"].to_numpy(np.int64) for f in frames])
        out = kernel(x, y)
        if changed is not None:
            changed.add(out[2])
        yield pd.DataFrame({"x": out[0], "y": out[1]})

    return run


def connected_components(
    edges: DataFrame,
    max_iter: int = 50,
    persists: list | None = None,
) -> DataFrame:
    """edges(a, b) -> components(doc_id, cluster_id) for every vertex that
    appears in an edge. cluster_id = min doc_id in the component.

    Raises RuntimeError when a link still moved in round `max_iter`:
    unconverged stars split components, a silent wrong answer.

    `persists`: optional list collecting the final round's checkpoint the
    returned frame reads from, so the caller can release it once the
    components are consumed (DedupResult.release())."""
    sc = edges.sparkSession.sparkContext
    width = max(1, edges.rdd.getNumPartitions())
    graph = edges.select(
        F.col("a").alias("x"), F.col("b").alias("y")
    ).mapInPandas(_partition_step(K.star_forest), _EDGES)
    for _ in range(max_iter):
        changed = sc.accumulator(0)
        # Symmetrize with one scan via explode (a self-union defeats
        # exchange reuse), then large-star keyed by each endpoint and
        # small-star keyed by the larger endpoint: two exchanges, one job.
        sym = graph.select(
            F.explode(
                F.array(
                    F.struct(F.col("x"), F.col("y")),
                    F.struct(F.col("y").alias("x"), F.col("x").alias("y")),
                )
            ).alias("e")
        ).select("e.x", "e.y")
        nxt = (
            sym.repartition(width, "x")
            .mapInPandas(_partition_step(K.large_star, changed), _EDGES)
            .repartition(width, "x")
            .mapInPandas(_partition_step(K.small_star, changed), _EDGES)
            .localCheckpoint(True, _CKPT_LEVEL)
        )
        # The superseded round is dead once nxt is materialized (eager
        # checkpoint): release it now, so at most two rounds are cached
        # at any instant instead of O(rounds) awaiting the ContextCleaner.
        _release_checkpoint(graph)
        graph = nxt
        if changed.value == 0:
            break
    else:
        _release_checkpoint(graph)
        raise RuntimeError(
            f"connected_components did not converge in max_iter={max_iter} "
            "rounds (links still moving); the labels would split components"
        )
    if persists is not None:
        persists.append(graph)
    # Converged: each edge links a vertex to its component's minimum.  The
    # centers appear once per leaf, so one aggregate keeps one row each.
    return (
        graph.select(
            F.explode(
                F.array(
                    F.struct(F.col("x").alias("doc_id"), F.col("y").alias("cluster_id")),
                    F.struct(F.col("y").alias("doc_id"), F.col("y").alias("cluster_id")),
                )
            ).alias("e")
        )
        .groupBy("e.doc_id")
        .agg(F.min("e.cluster_id").alias("cluster_id"))
    )


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
