"""End-to-end parity: Spark pipeline vs NumPy oracle on the synthetic corpus.

This is the repo's equivalent of the reference's ratio/recall evaluation
against `-alg 0` exact ground truth (/root/reference/methods/util.cc:81-105):
dup-pair recall >= 0.99 at identical shingle/signature config (BASELINE.json),
plus exact edge-set parity expectations.
"""

from __future__ import annotations

import pytest

from qalsh_spark.config import DedupConfig
from qalsh_spark.datagen import cached_corpus, generate_corpus
from qalsh_spark.plans.pipeline import DedupPipeline
from tests.oracle import cluster_pairs, dup_pair_recall, run_oracle

N_DOCS = 400


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(N_DOCS)


@pytest.fixture(scope="module")
def oracle_result(corpus):
    return run_oracle(corpus.urls, corpus.text)


@pytest.fixture(scope="module")
def spark_run(spark, corpus):
    """(clusters {doc_id: cluster_id}, edge rows {(a, b): (jaccard, lanes)})."""
    path = cached_corpus(N_DOCS)
    docs = spark.read.parquet(f"{path}/documents.parquet")
    res = DedupPipeline(DedupConfig()).run(docs)
    clusters = {
        r["doc_id"]: r["cluster_id"] for r in res.clusters.collect()
    }
    edges = {
        (r["a"], r["b"]): (r["jaccard"], list(r["lanes"]))
        for r in res.edges.collect()
    }
    return clusters, edges


@pytest.fixture(scope="module")
def spark_result(spark_run):
    clusters, edges = spark_run
    return clusters, set(edges)


def test_edge_parity(spark_result, oracle_result):
    _, spark_edges = spark_result
    o_edges = oracle_result.edges
    missing = o_edges - spark_edges
    extra = spark_edges - o_edges
    # shared kernels -> expect exact agreement
    assert not missing, f"{len(missing)} oracle edges missing, e.g. {list(missing)[:3]}"
    assert not extra, f"{len(extra)} unexpected spark edges, e.g. {list(extra)[:3]}"


def test_dup_pair_recall_ge_099(spark_result, oracle_result):
    clusters, _ = spark_result
    found = cluster_pairs(clusters)
    truth = cluster_pairs(oracle_result.clusters)
    recall = dup_pair_recall(found, truth)
    precision = dup_pair_recall(truth, found)  # symmetric measure
    assert recall >= 0.99, f"recall {recall:.4f}"
    assert precision >= 0.99, f"precision {precision:.4f}"


def test_cluster_ids_match(spark_result, oracle_result):
    """cluster_id = min(doc_id) of component in both implementations."""
    clusters, _ = spark_result
    assert clusters == oracle_result.clusters


def test_gold_exact_dups_always_clustered(spark_result, corpus):
    """Property: byte-identical texts must land in one cluster (recall=1 for
    exact dups at any config)."""
    from qalsh_spark import kernels as K

    clusters, _ = spark_result
    by_text: dict[str, list[int]] = {}
    for u, t in zip(corpus.urls, corpus.text):
        by_text.setdefault(t, []).append(K.doc_id_from_url(u))
    for ids in by_text.values():
        if len(ids) > 1:
            assert len({clusters[d] for d in ids}) == 1


def test_every_edge_jaccard_is_exact(spark_run, oracle_result):
    """Every edge reports the exact shingle Jaccard of its endpoints, whichever
    lanes accepted it: 1.0 on exact-group edges, and on every other edge
    kernels.jaccard_sorted over the oracle's shingle sets, compared with ==."""
    import numpy as np

    from qalsh_spark import kernels as K

    _, edges = spark_run
    sigs = oracle_result.signatures
    wrong = []
    for (a, b), (jac, lanes) in edges.items():
        if lanes == ["exact"]:
            want = 1.0
        else:
            want = K.jaccard_sorted(
                sigs[a]["shingles"].view(np.uint64),
                sigs[b]["shingles"].view(np.uint64),
            )
        if jac != want:
            wrong.append((a, b, lanes, jac, want))
    assert not wrong, f"{len(wrong)} of {len(edges)} edges, e.g. {wrong[:3]}"
