"""Candidate verification — the analog of QALSH reading the raw point and
computing the exact l_p distance once a candidate's collision count passes
the threshold (/root/reference/methods/qalsh.h:444-446, exact kernels at
methods/util.h:211-464).

Mirroring the reference's verify-time page fetch (methods/util.h:171-193:
the raw point is NOT stored in the index; it is re-read from the paged store
only for candidates), the signatures table here is narrow (minhash 128xint32,
simhash int64 — no shingle sets), and the exact-Jaccard verification
re-derives each candidate document's shingle set from its text via a join
back to the documents table + a vectorized Arrow UDF.  Only docs that appear
in a surviving candidate pair pay that cost — a tiny fraction of the corpus
at scale, exactly like the reference's "100 + k - 1 verified points" budget.
That shingle derivation is the only Python in this operator: the exact
Jaccard itself is a JVM expression over the two shingle arrays
(`exact_jaccard`), so Catalyst copying it into the acceptance filter costs a
second codegen'd expression, not a second Python pass over every pair.

A JVM prefilter runs before the shingle derivation: positionwise minhash
agreement (one array_intersect over position-tagged signatures) estimates
Jaccard and discards pairs that cannot plausibly reach the threshold — the
moral analog of the reference's early-exit distance accumulation
(methods/util.h:261-262), done batch-wise instead of element-wise.  The
simhash lane is pure JVM SQL: `bit_count(a ^ b)`.
"""

from __future__ import annotations

import pandas as pd
import numpy as np
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame

from qalsh_spark import kernels as K
from qalsh_spark.config import DedupConfig
from qalsh_spark.operators.components import _CKPT_LEVEL
from qalsh_spark.operators.banding import LANE_MINHASH, LANE_SIMHASH, LANE_SUFFIX, lane_name_col


def exact_jaccard(col_a: str, col_b: str) -> F.Column:
    """Exact Jaccard of two sorted, unique shingle arrays, JVM-side:
    |a & b| / (|a| + |b| - |a & b|), the same integers and the same IEEE
    division as kernels.jaccard_sorted.  A null side (a doc that was not a
    candidate, so the left join found no shingles) gives 0.0 — only lanes
    whose acceptance ignores jaccard see it — and two empty sets give 1.0."""
    a, b = F.col(col_a), F.col(col_b)
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return (
        F.when(a.isNull() | b.isNull(), F.lit(0.0))
        .when(union == 0, F.lit(1.0))
        .otherwise(inter / union)
    )


def shingle_set_udf(shingle_k: int):
    """text -> sorted unique shingle hashes (array<long>), same kernel the
    signing stage used — the verify-time 'raw point fetch'."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _udf(text: pd.Series) -> pd.Series:
        return text.map(
            lambda t: K.shingle_hashes(
                K.hash_tokens(K.tokenize(t or "")), shingle_k
            ).view(np.int64)
        )

    return _udf


def _position_tagged(minhash_col):
    """minhash array<int> -> array<long> of (position << 32 | value) tags.
    Positionwise agreement between two signatures then reduces to ONE
    array_intersect size per pair (hash-set built-in) instead of a 128-wide
    interpreted zip_with+aggregate per pair — the tags are computed once per
    DOCUMENT, the intersects once per PAIR."""
    mask = F.lit(4294967295)
    return F.transform(
        minhash_col,
        lambda x, i: F.shiftleft(i.cast("long"), 32).bitwiseOR(
            x.cast("long").bitwiseAND(mask)
        ),
    )


def verify_pairs(
    pairs: DataFrame,
    signatures: DataFrame,
    cfg: DedupConfig,
    documents_with_id: DataFrame,
    prefilter_margin: float = 0.2,
    persists: list | None = None,
) -> DataFrame:
    """pairs(a,b,lane_id) x signatures -> edges(a, b, lanes, jaccard, hamming)
    for pairs passing their lane's threshold.

    Per-lane acceptance (the oracle mirrors these rules exactly):
      minhash: exact Jaccard >= cfg.jaccard_threshold
      simhash: bit_count(xor) <= cfg.hamming_max (catches localized edits
               that shingle Jaccard under-scores)
      suffix:  bucketed on the 64-bit k1 content hash upstream; accepted
               only if the two docs share a full (k1, k2) tuple — the
               independent check hash makes acceptance a 128-bit equality
               test, so birthday collisions at 10^11-key scale cannot
               merge unrelated clusters (the arrays_zip/arrays_overlap is
               pure JVM).

    `documents_with_id(doc_id, text)` supplies the raw text for the exact-
    Jaccard re-derivation.
    """
    n_perm = cfg.num_perm
    has_suffix_check = (
        "suffix_keys" in signatures.columns
        and "suffix_checks" in signatures.columns
    )
    sig_cols = [
        F.col("doc_id"),
        _position_tagged(F.col("minhash")).alias("mh_tags"),
        F.col("simhash"),
    ]
    if has_suffix_check:
        # zip BEFORE any rename so both join sides carry identical struct
        # field names (required for arrays_overlap equality)
        sig_cols.append(
            F.arrays_zip(F.col("suffix_keys"), F.col("suffix_checks")).alias("sfx")
        )
    sig = signatures.select(*sig_cols)
    ren_a = {"mh_tags": "mh_a", "simhash": "fp_a"}
    ren_b = {"mh_tags": "mh_b", "simhash": "fp_b"}
    if has_suffix_check:
        ren_a["sfx"] = "sfx_a"
        ren_b["sfx"] = "sfx_b"
    j = (
        pairs.join(sig.withColumnRenamed("doc_id", "a"), on="a")
        .withColumnsRenamed(ren_a)
        .join(sig.withColumnRenamed("doc_id", "b"), on="b")
        .withColumnsRenamed(ren_b)
    )
    j = j.withColumn("hamming", F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))))
    j = j.withColumn(
        "mh_est",
        F.size(F.array_intersect(F.col("mh_a"), F.col("mh_b"))) / F.lit(n_perm),
    )

    # JVM prefilter: only pairs whose estimated Jaccard could plausibly reach
    # the gate pay the shingle re-derivation and the exact Jaccard.
    est_ok = F.col("mh_est") >= F.lit(cfg.jaccard_threshold - prefilter_margin)
    is_minhash = F.col("lane_id") == F.lit(LANE_MINHASH)
    is_simhash = F.col("lane_id") == F.lit(LANE_SIMHASH)
    is_suffix = F.col("lane_id") == F.lit(LANE_SUFFIX)
    passes_simhash = F.col("hamming") <= F.lit(cfg.hamming_max)
    # 128-bit suffix check: some (k1, k2) tuple shared by both sides.  The
    # fat sfx arrays are dropped right here — they never enter the persisted
    # pair rows or any later shuffle.
    suffix_ok = (
        F.arrays_overlap(F.col("sfx_a"), F.col("sfx_b"))
        if has_suffix_check
        else F.lit(True)
    )
    # Persist the surviving narrow pair rows: they feed the candidate-id
    # derivation AND the final scoring pass; without this the signature
    # joins + the interpreted higher-order agreement expression would
    # re-execute once per consumer.
    j = (
        j.filter((is_minhash & est_ok) | is_simhash | (is_suffix & suffix_ok))
        .select("a", "b", "lane_id", "hamming", "mh_est")
        .persist(_CKPT_LEVEL)
    )
    if persists is not None:
        persists.append(j)

    # Exact Jaccard for pairs that need it: re-derive shingle sets for the
    # candidate docs only (verify-time raw fetch), then LEFT-join both sides
    # and score in one linear pass (null side -> jaccard 0.0, which only
    # matters for lanes whose acceptance ignores jaccard anyway).
    needs_exact = j.filter(est_ok)
    cand_ids = (
        needs_exact.select(F.col("a").alias("doc_id"))
        .unionByName(needs_exact.select(F.col("b").alias("doc_id")))
        .distinct()
    )
    # persist: consumed twice (a-side and b-side joins) — without it the
    # shingle UDF would run twice per candidate document
    cand_sh = (
        cand_ids.join(documents_with_id.select("doc_id", "text"), on="doc_id")
        .select(
            "doc_id",
            shingle_set_udf(cfg.shingle_k)(F.col("text")).alias("shingles"),
        )
        .persist(_CKPT_LEVEL)
    )
    if persists is not None:
        persists.append(cand_sh)
    j = (
        j.join(
            cand_sh.withColumnsRenamed({"doc_id": "a", "shingles": "sh_a"}),
            on="a",
            how="left",
        )
        .join(
            cand_sh.withColumnsRenamed({"doc_id": "b", "shingles": "sh_b"}),
            on="b",
            how="left",
        )
        .withColumn("jaccard", exact_jaccard("sh_a", "sh_b"))
        .drop("sh_a", "sh_b")
    )

    passes_jaccard = F.col("jaccard") >= F.lit(cfg.jaccard_threshold)
    edges = j.filter(
        (is_minhash & passes_jaccard) | (is_simhash & passes_simhash) | is_suffix
    ).select("a", "b", "lane_id", "jaccard", "hamming")
    # One edge per (a,b): keep the strongest evidence, fold lanes.
    return (
        edges.groupBy("a", "b")
        .agg(
            F.max("jaccard").alias("jaccard"),
            F.min("hamming").alias("hamming"),
            F.transform(
                F.array_sort(F.collect_set("lane_id")),
                lambda i: lane_name_col(i),
            ).alias("lanes"),
        )
    )
