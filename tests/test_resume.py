"""Checkpoint/resume contract (SURVEY.md §5.2 "Resume test"; the analog of
the reference's index persistence + reload constructor,
/root/reference/methods/qalsh.h:255-281 write_params, 322-341 reload ctor):

  1. a full run with --checkpoint materializes every stage + manifest;
  2. a rerun with identical (config, input) skips every stage (manifests
     and stage parquet untouched, wall near-instant);
  3. after a simulated mid-run kill (later-stage manifests deleted), the
     rerun reuses the earlier stages (mtimes unchanged) and recomputes only
     the deleted tail — final clusters byte-identical to the cold run;
  4. a different config hash invalidates everything.
"""

from __future__ import annotations

import os
import time

import pytest

from qalsh_spark.config import DedupConfig
from qalsh_spark.datagen import cached_corpus
from qalsh_spark.plans.pipeline import run_dedup

N_DOCS = 300
STAGES = ["prepared", "signatures", "pairs", "edges", "clusters"]


def _manifest_mtimes(root: str) -> dict[str, float]:
    out = {}
    for s in STAGES:
        p = os.path.join(root, f"{s}.manifest.json")
        if os.path.exists(p):
            out[s] = os.path.getmtime(p)
    return out


def _cluster_map(res) -> dict[int, int]:
    return {r["doc_id"]: r["cluster_id"] for r in res.clusters.collect()}


@pytest.fixture()
def docs(spark):
    return spark.read.parquet(f"{cached_corpus(N_DOCS)}/documents.parquet")


def test_resume_skips_completed_stages(spark, docs, tmp_path):
    root = str(tmp_path / "ckpt")
    cfg = DedupConfig()

    cold = run_dedup(spark, docs, cfg, checkpoint_root=root)
    cold_clusters = _cluster_map(cold)
    assert len(cold_clusters) == N_DOCS
    m0 = _manifest_mtimes(root)
    assert set(m0) == set(STAGES), f"missing manifests: {set(STAGES) - set(m0)}"

    # full resume: all stages skip, wall is read-back only
    t0 = time.time()
    warm = run_dedup(spark, docs, cfg, checkpoint_root=root)
    warm_clusters = _cluster_map(warm)
    wall = time.time() - t0
    assert warm_clusters == cold_clusters
    assert _manifest_mtimes(root) == m0, "a completed stage was rewritten"
    assert wall < 10, f"resume took {wall:.1f}s — stages did not skip"

    # simulated mid-run kill: later stages lost, earlier stages intact
    for s in ("edges", "clusters"):
        os.remove(os.path.join(root, f"{s}.manifest.json"))
    resumed = run_dedup(spark, docs, cfg, checkpoint_root=root)
    resumed_clusters = _cluster_map(resumed)
    m2 = _manifest_mtimes(root)
    for s in ("prepared", "signatures", "pairs"):
        assert m2[s] == m0[s], f"stage {s} recomputed on resume"
    for s in ("edges", "clusters"):
        assert m2[s] > m0[s], f"stage {s} not recomputed after kill"
    assert resumed_clusters == cold_clusters, "resumed output diverged"

    # lineage table accumulated one row per written stage
    runs = spark.read.parquet(os.path.join(root, "pipeline_runs"))
    assert runs.count() == len(STAGES) + 2
    assert runs.filter("rows < 0").count() == 0
    assert runs.dtypes == [
        ("stage", "string"),
        ("config_hash", "string"),
        ("input_fingerprint", "string"),
        ("rows", "bigint"),
        ("wall_ms", "bigint"),
    ]


def test_config_change_invalidates_checkpoints(spark, docs, tmp_path):
    root = str(tmp_path / "ckpt2")
    run_dedup(spark, docs, DedupConfig(), checkpoint_root=root)
    m0 = _manifest_mtimes(root)
    run_dedup(
        spark, docs, DedupConfig(jaccard_threshold=0.7), checkpoint_root=root
    )
    m1 = _manifest_mtimes(root)
    assert all(m1[s] > m0[s] for s in STAGES), "config change must recompute"
