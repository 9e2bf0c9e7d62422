"""Benchmark workloads: input generators, ground truth and the timed op.

Each workload builds its inputs from the seed as parquet files (the engine
only ever sees those files), computes their ground truth once per seed, and
runs one op = one batch job through the engine's public entry points.
``op(..., tracer=None)`` is the measured path; with a ``Tracer`` the op runs
the same calls with layer spans around them.
"""

from __future__ import annotations

import contextlib
import importlib.util
import os
import shutil
import sys
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from qalsh_spark import DedupConfig
from qalsh_spark.datagen import generate_embeddings
from qalsh_spark.operators.ann import pstable_topk
from qalsh_spark.operators.drusilla import qalsh_plus_topk
from qalsh_spark.plans.pipeline import DedupPipeline, run_dedup
from qalsh_spark.sources.catalog import StageCatalog, read_documents

from probes import Tracer

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
INPUT_FILES = 4  # part files per table, so scans start with one task per core


@dataclass
class OpResult:
    wall_s: float
    items: int
    ok: bool
    quality: float
    detail: str = ""
    layers: dict = field(default_factory=dict)  # layer -> extra metrics


def _write_parts(table: pa.Table, path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    step = -(-table.num_rows // INPUT_FILES)
    for i in range(INPUT_FILES):
        pq.write_table(
            table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet")
        )


def _load_oracle():
    """tests/oracle.py: the single-process NumPy replica of the pipeline."""
    spec = importlib.util.spec_from_file_location(
        "qalsh_oracle", os.path.join(REPO, "tests", "oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod
    spec.loader.exec_module(mod)
    return mod


def _du_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / (1024.0 * 1024.0)


# --------------------------------------------------------------------------
# revision_chains
# --------------------------------------------------------------------------

PAGE_WORDS = 300


def family_sizes(n: int) -> list[int]:
    """Docs per page family: a fixed Zipf profile (the largest family n/3
    docs, capped at 400; the k-th largest 1/k of that; at least 3, so every
    family has two revisions and a mirror)."""
    largest = max(3, min(400, n // 3))
    sizes, k = [], 1
    while sum(sizes) < n:
        left = n - sum(sizes)
        size = max(3, round(largest / k))
        sizes.append(left if left - size < 3 else size)
        k += 1
    return sizes


def _edit(words: list[str], shape, draw, n_edits: int) -> list[str]:
    """n_edits localized span edits: replace, insert or delete 1-8 words.
    ``shape`` picks where and how, ``draw(k)`` returns k new words."""
    w = list(words)
    for _ in range(n_edits):
        pos = int(shape.integers(0, len(w)))
        span = int(shape.integers(1, 9))
        kind = shape.random()
        if kind < 0.5:
            w[pos : pos + span] = draw(span)
        elif kind < 0.8 or len(w) < 100:
            w[pos:pos] = draw(span)
        else:
            del w[pos : pos + span]
    return w


def revision_corpus(n_docs: int, seed: int) -> tuple[list[str], list[str], list]:
    """Revision histories: each page family is a chain of versions, each
    version three span edits away from the one before, plus one mirror (a
    byte-identical copy of one revision at another url) per family.

    The shape of the corpus (family sizes, page length, where each edit
    lands and what kind it is, which revision is mirrored) is the same for
    every seed, so the similarity profile the engine sees is too; the seed
    draws the vocabulary and every word."""
    rng = np.random.default_rng(seed)
    shape = np.random.default_rng(0)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = np.array(
        ["".join(letters[rng.integers(0, 26, size=n)]) for n in rng.integers(3, 11, 20_000)],
        dtype=object,
    )
    probs = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
    probs /= probs.sum()

    def draw(k: int) -> list[str]:
        return [str(x) for x in rng.choice(vocab, size=k, p=probs)]

    base_ts = np.datetime64("2024-06-01T00:00:00", "us")
    urls: list[str] = []
    texts: list[str] = []
    ts: list = []
    for fam, size in enumerate(family_sizes(n_docs)):
        words = draw(PAGE_WORDS)
        revisions = []
        for rev in range(size - 1):
            if rev:
                words = _edit(words, shape, draw, 3)
            revisions.append(" ".join(words))
            urls.append(f"https://wiki{fam % 64:02d}.example/w/P{fam}?oldid={rev}")
            ts.append(base_ts + np.timedelta64(3600 * (fam * 1000 + rev), "s"))
        texts.extend(revisions)
        urls.append(f"https://mirror{fam % 8}.example/P{fam}")
        texts.append(revisions[int(shape.integers(0, len(revisions)))])
        ts.append(base_ts + np.timedelta64(3600 * (fam * 1000 + size), "s"))
    return urls, texts, ts


class RevisionChains:
    """Dedup through ``run_dedup(..., checkpoint_root=...)`` (every stage
    written to parquet and read back), then a resumed rerun on the same
    root.  Items are documents."""

    def __init__(self, n_docs: int, work: str):
        self.n_docs = n_docs
        self.work = work
        self.cfg = DedupConfig()
        self.truth: dict[int, int] = {}
        self.truth_seed: int | None = None
        self.docs = None
        self._oracle = _load_oracle()

    def build(self, seed: int) -> None:
        urls, texts, ts = revision_corpus(self.n_docs, seed)
        table = pa.table(
            {
                "url": pa.array(urls, pa.string()),
                "warc_ts": pa.array(ts, pa.timestamp("us")),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * len(urls), pa.string()),
            }
        )
        _write_parts(table, os.path.join(self.work, "documents.parquet"))
        if self.truth_seed != seed:  # ground truth once per seed
            self.truth = self._oracle.run_oracle(urls, texts, self.cfg).clusters
            self.truth_seed = seed

    def load(self, spark) -> None:
        self.docs = read_documents(spark, self.work)
        self.docs.count()

    def _collect(self, res) -> dict[int, int]:
        return {r.doc_id: r.cluster_id for r in res.clusters.select("doc_id", "cluster_id").collect()}

    def op(self, spark, op_dir: str, tracer: Tracer | None) -> OpResult:
        root = os.path.join(op_dir, "ckpt")
        span = tracer.span if tracer else contextlib.nullcontext
        results, catalogs = [], []

        def dedup():
            if tracer is None:
                res = run_dedup(spark, self.docs, self.cfg, checkpoint_root=root)
            else:
                catalogs.append(_TracedCatalog(root, self.cfg.config_hash(), tracer))
                res = DedupPipeline(self.cfg, catalogs[-1]).run(self.docs)
            results.append(res)
            return res

        t0 = time.perf_counter()
        first = dedup()
        with span("catalog"):
            got = self._collect(first)
        t1 = time.perf_counter()
        with span("catalog"):
            got2 = self._collect(dedup())
        t2 = time.perf_counter()
        layers = {}
        if tracer is not None:
            layers = self._layer_extras(tracer, catalogs[0], first, root, t2 - t1)
        for r in results:
            r.release()
        ok, detail = self._check(got, got2)
        return OpResult(
            t2 - t0, self.n_docs, ok, _pair_recall(got, self.truth), detail, layers
        )

    def _check(self, got: dict, got2: dict) -> tuple[bool, str]:
        if got != self.truth:
            wrong = sum(1 for d, c in self.truth.items() if got.get(d) != c)
            return False, f"{wrong} of {len(self.truth)} docs differ from the oracle clusters"
        if got2 != got:
            return False, "resumed run returned different clusters"
        return True, ""

    def _layer_extras(self, tracer, cat, first, root, resume_s) -> dict:
        layers: dict = {}
        with tracer.span("_bookkeeping"):
            rows = {name: df.count() for name, df in cat.written.items()}
            stats = first.bucket_stats.collect() if first.bucket_stats is not None else []
        for stage, layer in _STAGE_LAYER.items():
            layers.setdefault(layer, {})["rows_out"] = rows.get(stage, 0)
        candidates = rows.get("pairs", 0)
        layers["prepare"]["distinct_ratio"] = rows.get("signatures", 0) / max(1, rows.get("prepared", 0))
        layers["sign"]["docs"] = rows.get("signatures", 0)
        layers["pairs"]["candidates"] = candidates
        layers["pairs"]["hot_buckets"] = sum(r.n_hot_buckets for r in stats)
        layers["pairs"]["pairs_elided_by_star"] = sum(r.pairs_elided_by_star for r in stats)
        layers["verify"]["edges"] = rows.get("edges", 0)
        layers["verify"]["accept_ratio"] = rows.get("edges", 0) / max(1, candidates)
        catalog = layers.setdefault("catalog", {})
        catalog["bytes_written_mb"] = _du_mb(root)
        catalog["read_s"] = sum(
            sp["end"] - sp["start"] for sp in tracer.spans if sp["name"] == "catalog"
        )
        catalog["resume_s"] = resume_s
        catalog["rows_out"] = len(self.truth)
        return layers


def _pair_recall(got: dict, truth: dict) -> float:
    """Share of oracle duplicate pairs (docs sharing a cluster) that the
    engine also puts in one cluster; counted per cluster, not per pair."""
    groups: dict[int, list[int]] = {}
    for d, c in truth.items():
        groups.setdefault(c, []).append(d)
    total = found = 0
    for members in groups.values():
        n = len(members)
        if n < 2:
            continue
        total += n * (n - 1) // 2
        sub: dict[int, int] = {}
        for d in members:
            sub[got.get(d, d)] = sub.get(got.get(d, d), 0) + 1
        found += sum(m * (m - 1) // 2 for m in sub.values())
    return found / total if total else 1.0


# catalog stage name -> layer name
_STAGE_LAYER = {
    "prepared": "prepare",
    "signatures": "sign",
    "pairs": "pairs",
    "edges": "verify",
    "clusters": "cluster",
}


class _TracedCatalog(StageCatalog):
    """StageCatalog that opens a layer span when ``run()`` asks whether a
    stage must be computed and closes it once ``write`` has materialized
    the stage: the span covers the stage's plan build, its eager work
    (connected components) and the parquet write that executes it."""

    def __init__(self, root: str, config_hash: str, tracer: Tracer):
        super().__init__(root, config_hash)
        self.tracer = tracer
        self.written: dict = {}
        self._span = None

    def has_valid(self, name: str, input_fingerprint: str) -> bool:
        valid = super().has_valid(name, input_fingerprint)
        if not valid:
            self._span = self.tracer.open(_STAGE_LAYER.get(name, name))
        return valid

    def write(self, df, name, input_fingerprint, partition_by=None):
        out = super().write(df, name, input_fingerprint, partition_by)
        self.tracer.close(self._span)
        self._span = None
        self.written[name] = out
        return out


# --------------------------------------------------------------------------
# embedding_ann
# --------------------------------------------------------------------------

ANN_K = 10
N_QUERIES = 100  # the reference's query protocol
PSTABLE = dict(p=2.0, w=0.8, m=32, min_collisions=16, max_rounds=6)
QALSH_PLUS = dict(n_cells=16, nprobe=4)


class EmbeddingAnn:
    """Held-out queries through two QALSH lanes: p-stable LSH with virtual
    rehashing (``pstable_topk(max_rounds>0)``) and the two-level
    ``qalsh_plus_topk``.  Items are queries (each answered by both lanes)."""

    def __init__(self, n_vecs: int, work: str):
        self.n_vecs = n_vecs
        self.n_queries = N_QUERIES
        self.work = work
        self.vectors = self.queries = None
        self.truth_seed: int | None = None

    def build(self, seed: int) -> None:
        e = generate_embeddings(self.n_vecs + self.n_queries, d=64, seed=seed)
        X = e.X[: self.n_vecs].astype(np.float64)
        Q = e.X[self.n_vecs :].astype(np.float64)
        _write_parts(
            pa.table({"vec_id": pa.array(np.arange(self.n_vecs)),
                      "embedding": pa.array(list(X), pa.list_(pa.float64()))}),
            os.path.join(self.work, "vectors"),
        )
        _write_parts(
            pa.table({"qid": pa.array(np.arange(self.n_queries)),
                      "qvec": pa.array(list(Q), pa.list_(pa.float64()))}),
            os.path.join(self.work, "queries"),
        )
        self.X, self.Q = X, Q
        if self.truth_seed != seed:  # ground truth once per seed
            d2 = (Q * Q).sum(1)[:, None] - 2.0 * Q @ X.T + (X * X).sum(1)[None, :]
            self.truth = np.argsort(d2, axis=1, kind="stable")[:, :ANN_K]
            self.truth_seed = seed

    def load(self, spark) -> None:
        self.vectors = spark.read.parquet(os.path.join(self.work, "vectors"))
        self.queries = spark.read.parquet(os.path.join(self.work, "queries"))
        self.vectors.count()

    def op(self, spark, op_dir: str, tracer: Tracer | None) -> OpResult:
        span = tracer.span if tracer else contextlib.nullcontext
        persists: list = []
        diag: dict | None = {} if tracer is not None else None
        t0 = time.perf_counter()
        with span("ann.pstable"):
            ps_rows = pstable_topk(
                self.vectors, self.queries, k=ANN_K, persists=persists, **PSTABLE
            ).collect()
        with span("ann.qalsh_plus"):
            qp_rows = qalsh_plus_topk(
                self.vectors, self.queries, k=ANN_K, diagnostics=diag, **QALSH_PLUS
            ).collect()
        wall = time.perf_counter() - t0
        rounds = sum(1 for df in persists if "rank" in df.columns)
        for df in persists:
            df.unpersist()
        ok1, rec1, msg1 = self._check(ps_rows, "l2")
        ok2, rec2, msg2 = self._check(qp_rows, "cos")
        layers = {}
        if tracer is not None:
            layers = {
                "ann.pstable": {
                    "rows_out": len(ps_rows), "recall_at_10": rec1, "rounds": rounds,
                },
                "ann.qalsh_plus": {
                    "rows_out": len(qp_rows), "recall_at_10": rec2,
                    "n_rescored": diag["n_rescored"],
                },
            }
        return OpResult(
            wall, self.n_queries, ok1 and ok2, (rec1 + rec2) / 2.0,
            "; ".join(m for m in (msg1, msg2) if m), layers,
        )

    def _check(self, rows, metric: str) -> tuple[bool, float, str]:
        """Every query answered with k rows, every reported score equal to
        NumPy's for that (query, neighbor), recall@k against brute force."""
        by_q: dict[int, list] = {}
        bad = 0
        for r in rows:
            by_q.setdefault(r["qid"], []).append(r["neighbor_id"])
            q, x = self.Q[r["qid"]], self.X[r["neighbor_id"]]
            want = (
                float(np.sqrt(((q - x) ** 2).sum())) if metric == "l2"
                else float(q @ x / (np.linalg.norm(q) * np.linalg.norm(x)))
            )
            bad += abs(r["score"] - want) > 1e-9
        short = sum(1 for q in range(self.n_queries) if len(by_q.get(q, [])) != ANN_K)
        recall = float(np.mean([
            len(set(by_q.get(q, [])) & set(self.truth[q].tolist())) / ANN_K
            for q in range(self.n_queries)
        ]))
        msg = ""
        if short or bad:
            msg = f"{metric}: {short} queries without {ANN_K} rows, {bad} scores off"
        return not msg, recall, msg
