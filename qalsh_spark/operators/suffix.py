"""Exact-substring duplicate lane ("distributed suffix-array pass").

A true suffix array is a single giant sorted structure — the reference's
closest relative is the bulkload-sorted projection table + sibling-linked
leaf sweep (/root/reference/methods/qalsh.h:285-307, 622-828: sort once, then
walk neighbors in order).  The scalable Spark reimagination:

  1. per document, sample suffix start positions at CONTENT-DEFINED anchors
     (rolling hash of the preceding 16 bytes ≡ 0 mod gap — winnowing-style).
     Content-defined means two documents sharing a >=lcp_min verbatim run
     place anchors at the same content offsets inside the run, so they emit
     comparable suffixes without any global alignment;
  2. hash the `lcp_min` bytes after each anchor into an int64 bucket key
     (kernels.suffix_keys_for_text).  LCP >= lcp_min between two sampled
     suffixes IFF their first lcp_min bytes are equal IFF their keys are
     equal — so equality bucketing IS the LCP verification (up to 2^-64
     hash collisions), and the lane shuffles only (doc_id, key) int64 pairs,
     never suffix strings;
  3. generate (doc_a, doc_b) edges per bucket, reusing the generic skew-safe
     pair operator (operators/pairs.py: bounded JVM all-pairs for small
     buckets, star-to-hub for hot boilerplate runs), lane='suffix'.

No global orderBy, no single-partition window, no unbounded collect, no
Python-side pair verification — the whole lane is groupBy-shaped, AQE/skew-
safe, and its shuffle volume is ~16 bytes per sampled anchor regardless of
document size.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame

from qalsh_spark import kernels as K
from qalsh_spark.config import DedupConfig
from qalsh_spark.operators.pairs import candidate_pairs_from_buckets

_SUFFIX_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("band_key", T.LongType()),
    ]
)

SUFFIX_BUCKET_CAP = 32


def _emit_suffix_keys(cfg: DedupConfig):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[np.ndarray] = []
            keys: list[np.ndarray] = []
            for doc_id, text in zip(pdf["doc_id"].to_numpy(), pdf["text"].to_numpy()):
                k = K.suffix_keys_for_text(
                    text or "", cfg.suffix_window, cfg.suffix_gap, cfg.lcp_min
                )
                if len(k):
                    ids.append(np.full(len(k), doc_id, dtype=np.int64))
                    keys.append(k)
            if ids:
                yield pd.DataFrame(
                    {
                        "doc_id": np.concatenate(ids),
                        "band_key": np.concatenate(keys),
                    }
                )
            else:
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series([], dtype="int64"),
                        "band_key": pd.Series([], dtype="int64"),
                    }
                )

    return fn


def suffix_buckets(documents_with_id: DataFrame, cfg: DedupConfig) -> DataFrame:
    """documents(doc_id, text) -> slim bucket rows (doc_id, lane_id, band_key)
    ready for the shared pair-generation pass."""
    narrow = documents_with_id.select("doc_id", "text")
    # same parallelism guard as sign_documents: don't let a small split count
    # serialize the anchor-scan Python stage (3x for finer waves; file-count
    # trigger — no .rdd plan conversion)
    target = 3 * narrow.sparkSession.sparkContext.defaultParallelism
    if len(narrow.inputFiles()) < target:
        narrow = narrow.repartition(target)
    keys = narrow.mapInPandas(_emit_suffix_keys(cfg), schema=_SUFFIX_SCHEMA)
    from qalsh_spark.operators.banding import LANE_SUFFIX

    return keys.select(
        "doc_id",
        F.lit(LANE_SUFFIX).cast("tinyint").alias("lane_id"),
        "band_key",
    )


def substring_candidate_pairs(
    documents_with_id: DataFrame,
    cfg: DedupConfig,
    bucket_cap: int = SUFFIX_BUCKET_CAP,
) -> DataFrame:
    """documents(doc_id, text) -> suffix-lane pairs(a, b, lane='suffix').
    Pairs are pre-verified by construction (equal key => LCP >= lcp_min).
    Standalone entry point; the pipeline instead unions suffix_buckets into
    the shared pair-generation pass (one shuffle schedule for all lanes)."""
    pairs, _stats = candidate_pairs_from_buckets(
        suffix_buckets(documents_with_id, cfg), bucket_cap=bucket_cap
    )
    from qalsh_spark.operators.banding import lane_name_col

    return pairs.dropDuplicates(["a", "b"]).select(
        "a", "b", lane_name_col(F.col("lane_id")).alias("lane")
    )
