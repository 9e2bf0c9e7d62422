"""Adversarial shapes: corpora and graphs built to break the cluster stage.

The dedup cases run `DedupPipeline(DedupConfig()).run` and require the
clusters of the single-process oracle (`tests/oracle.run_oracle`) exactly.
The graph cases run `connected_components` alone on shapes whose answer is
known in closed form: a long path with shuffled ids, whose round count is
bounded by counting the Spark jobs the call runs, and a giant star.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyspark.sql.functions as F

from qalsh_spark.config import DedupConfig
from qalsh_spark.operators.components import connected_components
from qalsh_spark.plans.pipeline import DedupPipeline
from tests.oracle import run_oracle


def _words(n: int, seed: int) -> list[str]:
    """n words drawn from a 5,000-word vocabulary of random letter strings."""
    rng = np.random.default_rng(seed)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = ["".join(rng.choice(letters, int(rng.integers(3, 9)))) for _ in range(5000)]
    return [vocab[i] for i in rng.integers(0, len(vocab), n)]


def _assert_oracle_clusters(spark, texts: list[str]) -> dict[int, int]:
    urls = [f"https://adversarial.example/{i}" for i in range(len(texts))]
    docs = spark.createDataFrame(pd.DataFrame({"url": urls, "text": texts}))
    res = DedupPipeline(DedupConfig()).run(docs)
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in res.clusters.select("doc_id", "cluster_id").collect()
    }
    res.release()
    want = run_oracle(urls, texts).clusters
    wrong = sum(1 for d, c in want.items() if got.get(d) != c)
    assert got == want, f"{wrong} of {len(want)} docs differ from the oracle"
    return got


def test_sliding_window_chain_is_one_cluster(spark):
    """Doc i is words [100i, 100i + 300): each doc overlaps only its
    neighbors, so the duplicate graph is a 150-doc path, the shape of
    recrawls, pagination and edit histories."""
    words = _words(100 * 149 + 300, seed=11)
    texts = [" ".join(words[100 * i : 100 * i + 300]) for i in range(150)]
    got = _assert_oracle_clusters(spark, texts)
    assert len(set(got.values())) == 1


def test_empty_and_whitespace_texts_among_normal_docs(spark):
    """50 empty and 10 whitespace-only texts mixed with 60 normal docs (30
    originals and a one-word edit of each)."""
    words = _words(30 * 200, seed=12)
    originals = [" ".join(words[200 * i : 200 * (i + 1)]) for i in range(30)]
    edits = [t.replace(t.split()[100], "edited", 1) for t in originals]
    blanks = [""] * 50 + [" ", "\t", "\n", "  \n\t ", "\r\n"] * 2
    texts = originals + blanks + edits
    order = np.random.default_rng(12).permutation(len(texts))
    _assert_oracle_clusters(spark, [texts[i] for i in order])


def test_all_identical_docs_are_one_cluster(spark):
    text = " ".join(_words(300, seed=13))
    got = _assert_oracle_clusters(spark, [text] * 3000)
    assert len(set(got.values())) == 1


def test_near_duplicate_star(spark):
    """A center doc and 2,000 copies that each replace a different word of
    it: every pair is a near duplicate, so the bucket caps and star pairing
    decide which of the ~2M pairs are ever verified."""
    center = _words(2500, seed=14)
    texts = [" ".join(center)]
    for i in range(2000):
        leaf = list(center)
        leaf[i] = f"leaf{i}"
        texts.append(" ".join(leaf))
    got = _assert_oracle_clusters(spark, texts)
    assert len(set(got.values())) == 1


def test_cc_shuffled_path_converges_in_log_rounds(spark):
    """A 10,000-vertex path over shuffled ids, its edges in shuffled order:
    pre-contraction sees only short runs, so the rounds do the work.  Each
    round is one Spark job, so the jobs tagged with the call's own job
    group bound the rounds: at most 2 log2(n)."""
    n = 10_000
    rng = np.random.default_rng(15)
    ids = rng.permutation(n)
    path = [(int(ids[i]), int(ids[i + 1])) for i in rng.permutation(n - 1)]
    edges = spark.createDataFrame(path, "a long, b long")
    sc = spark.sparkContext
    group = "cc-shuffled-path"
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    # AQE runs each shuffle map stage as a job of its own; the production
    # session below 10M docs runs with it off
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup(group, group)
    try:
        comps = connected_components(edges)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    rounds = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 1 <= rounds <= math.ceil(2 * math.log2(n)), rounds
    got = comps.agg(
        F.count("*"), F.countDistinct("doc_id"), F.min("cluster_id"), F.max("cluster_id")
    ).first()
    assert tuple(got) == (n, n, 0, 0)


def test_cc_million_member_star(spark):
    """One center linked to 1,000,000 leaves, the center in the middle of
    the id range: every vertex is labeled with the smallest id, 0."""
    n, center = 1_000_001, 500_000
    edges = (
        spark.range(0, n)
        .filter(F.col("id") != center)
        .select(F.lit(center).cast("long").alias("a"), F.col("id").alias("b"))
    )
    comps = connected_components(edges)
    got = comps.agg(
        F.count("*"), F.countDistinct("doc_id"), F.min("cluster_id"), F.max("cluster_id")
    ).first()
    assert tuple(got) == (n, n, 0, 0)
