"""Structured Streaming lane: incremental signature maintenance.

New documents landing in a directory are signed by the SAME kernels as the
batch pipeline and appended to a signatures table (SURVEY.md §2.8: the
engine is batch-first; this is the incremental-ingest composition point)."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from qalsh_spark.config import DedupConfig
from qalsh_spark.datagen import corpus_to_table, generate_corpus
from qalsh_spark.streaming.incremental import incremental_signatures


def _stream_batch(path: str, texts: list[str], tag: str) -> None:
    """Write one micro-batch file: controlled texts, one shared event time
    (keeps every key inside the watermark window deterministically)."""
    import datetime

    import pyarrow as pa

    ts = datetime.datetime(2025, 3, 1, 12, 0, 0)
    pq.write_table(
        pa.table(
            {
                "url": [f"https://x.example/{tag}/{i}" for i in range(len(texts))],
                "warc_ts": pa.array([ts] * len(texts), pa.timestamp("us")),
                "html": pa.array([None] * len(texts), pa.binary()),
                "text": texts,
                "lang": ["en"] * len(texts),
            }
        ),
        path,
    )


def test_streaming_exact_dedup(spark, tmp_path):
    """dropDuplicatesWithinWatermark on (text_len, text_hash): duplicate
    texts — within a micro-batch AND across micro-batches via the state
    store — are dropped; unique texts pass through."""
    from qalsh_spark.streaming.incremental import streaming_exact_dedup

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    _stream_batch(
        os.path.join(in_dir, "b0.parquet"), ["A", "B", "C", "A wait", "A"], "b0"
    )

    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = streaming_exact_dedup(spark, in_dir, out_dir, ckpt)
    q.awaitTermination(120)
    first = {r["text"] for r in spark.read.parquet(out_dir).collect()}
    assert first == {"A", "B", "C", "A wait"}  # in-batch dup "A" dropped
    assert spark.read.parquet(out_dir).count() == 4

    # restart from checkpoint: cross-batch dups hit the state store
    _stream_batch(
        os.path.join(in_dir, "b1.parquet"), ["A", "B", "D", "E", "D"], "b1"
    )
    q2 = streaming_exact_dedup(spark, in_dir, out_dir, ckpt)
    q2.awaitTermination(120)
    rows = spark.read.parquet(out_dir).collect()
    texts = [r["text"] for r in rows]
    assert sorted(texts) == ["A", "A wait", "B", "C", "D", "E"]
    # the survivor of each key is the FIRST arrival (b0's url, not b1's)
    by_text = {r["text"]: r["url"] for r in rows}
    assert "/b0/" in by_text["A"] and "/b0/" in by_text["B"]
    assert "/b1/" in by_text["D"]


def test_streaming_exact_dedup_html_only_rows(spark, tmp_path):
    """ADVICE r2: rows arriving with html but NULL text must be keyed on
    their EXTRACTED text, not on the shared NULL key (which silently dropped
    every html-only doc after the first)."""
    import datetime

    import pyarrow as pa

    from qalsh_spark.streaming.incremental import streaming_exact_dedup

    ts = datetime.datetime(2025, 3, 1, 12, 0, 0)
    htmls = [
        b"<p>alpha</p>",  # kept
        b"<p>beta</p>",  # kept: DIFFERENT text, was dropped pre-fix
        b"<p>alpha</p>",  # dup of row 0: dropped
    ]
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    pq.write_table(
        pa.table(
            {
                "url": [f"https://h.example/{i}" for i in range(len(htmls))],
                "warc_ts": pa.array([ts] * len(htmls), pa.timestamp("us")),
                "html": pa.array(htmls, pa.binary()),
                "text": pa.array([None] * len(htmls), pa.string()),
                "lang": ["en"] * len(htmls),
            }
        ),
        os.path.join(in_dir, "b0.parquet"),
    )
    out_dir = str(tmp_path / "out")
    q = streaming_exact_dedup(spark, in_dir, out_dir, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    rows = spark.read.parquet(out_dir).collect()
    assert sorted(r["text"] for r in rows) == ["alpha", "beta"]
    assert {r["url"] for r in rows} == {
        "https://h.example/0",
        "https://h.example/1",
    }


def test_incremental_signatures(spark, tmp_path):
    c = generate_corpus(50, seed=7)
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    tbl = corpus_to_table(c)
    pq.write_table(tbl.slice(0, 30), os.path.join(in_dir, "batch0.parquet"))

    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = incremental_signatures(spark, in_dir, out_dir, ckpt, DedupConfig())
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir)
    assert got.count() == 30
    assert "minhash" in got.columns and "simhash" in got.columns

    # second micro-batch: only the NEW file is processed (checkpoint offsets)
    pq.write_table(tbl.slice(30, 20), os.path.join(in_dir, "batch1.parquet"))
    q2 = incremental_signatures(spark, in_dir, out_dir, ckpt, DedupConfig())
    q2.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == 50

    # streamed signatures match the batch signing of the same rows
    from qalsh_spark.functions.signatures import prepare_documents, sign_documents
    from qalsh_spark.sources.catalog import read_documents

    import pyarrow.parquet as _pq

    full = str(tmp_path / "full")
    os.makedirs(full)
    _pq.write_table(tbl, os.path.join(full, "documents.parquet"))
    batch = sign_documents(prepare_documents(read_documents(spark, full)), DedupConfig())
    a = {r["doc_id"]: (tuple(r["minhash"]), r["simhash"])
         for r in batch.collect()}
    b = {r["doc_id"]: (tuple(r["minhash"]), r["simhash"])
         for r in spark.read.parquet(out_dir).collect()}
    assert a == b


def test_streaming_neardup_cross_batch_state(spark, tmp_path):
    """Keyed state carries bucket membership ACROSS micro-batches: a near-dup
    pair split over two files (maxFilesPerTrigger=1 -> two micro-batches in
    one availableNow run) is still discovered."""
    from qalsh_spark.kernels import doc_id_from_url
    from qalsh_spark.streaming.neardup import streaming_neardup_candidates

    base = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while the miller grinds wheat beside the old stone bridge "
        "under a grey october sky full of starlings"
    )
    edited = base.replace("grey october", "pale november")
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    _stream_batch(os.path.join(in_dir, "b0.parquet"),
                  [base, "completely unrelated text about spark shuffles"],
                  "b0")
    _stream_batch(os.path.join(in_dir, "b1.parquet"), [edited], "b1")

    out_dir = str(tmp_path / "out")
    q = streaming_neardup_candidates(
        spark, in_dir, out_dir, str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    q.awaitTermination(180)

    got = spark.read.parquet(out_dir).collect()
    assert got, "no candidates emitted"
    d_base = doc_id_from_url("https://x.example/b0/0")
    d_edit = doc_id_from_url("https://x.example/b1/0")
    d_other = doc_id_from_url("https://x.example/b0/1")
    pairs = {(r["a"], r["b"]) for r in got}
    want = (min(d_base, d_edit), max(d_base, d_edit))
    assert want in pairs, "cross-batch near-dup pair not discovered"
    # the unrelated doc never pairs, and every pair is canonical a<b
    assert all(a < b for a, b in pairs)
    assert not any(d_other in p for p in pairs)


def test_streaming_neardup_matches_batch_bucketing(spark, tmp_path):
    """Discovery contract vs the batch lane: every pair of docs sharing a
    minhash band key in a sub-cap bucket MUST appear in the streamed
    candidates (truth recomputed per-doc with the same kernels), and every
    emitted minhash candidate must actually share the emitted band key."""
    import collections

    import numpy as np

    from qalsh_spark import kernels as K
    from qalsh_spark.datagen import generate_corpus
    from qalsh_spark.streaming.neardup import streaming_neardup_candidates

    cfg = DedupConfig()
    c = generate_corpus(120, seed=9)
    tbl = corpus_to_table(c)
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    pq.write_table(tbl.slice(0, 60), os.path.join(in_dir, "b0.parquet"))
    pq.write_table(tbl.slice(60, 60), os.path.join(in_dir, "b1.parquet"))

    out_dir = str(tmp_path / "out")
    q = streaming_neardup_candidates(
        spark, in_dir, out_dir, str(tmp_path / "ckpt"),
        cfg=cfg, max_files_per_trigger=1,
    )
    q.awaitTermination(300)

    rows = spark.read.parquet(out_dir).collect()
    from qalsh_spark.operators.banding import LANE_MINHASH

    got = {(r["a"], r["b"]) for r in rows if r["lane_id"] == LANE_MINHASH}
    got_keys = collections.defaultdict(set)
    for r in rows:
        if r["lane_id"] == LANE_MINHASH:
            got_keys[(r["a"], r["b"])].add(r["band_key"])

    # per-doc truth with the SAME kernels (all docs — the stream has no
    # exact-collapse pre-pass; byte-identical texts share every band key)
    a_p, b_p = K.minhash_params(cfg.num_perm, cfg.minhash_seed)
    ids, keysets = [], {}
    for url, text in zip(c.urls, c.text):
        d = K.doc_id_from_url(url)
        s = K.sign_document(
            text or "", a_p, b_p, cfg.shingle_k, cfg.bands, cfg.rows,
            cfg.simhash_blocks, cfg.simhash_key_blocks,
        )
        ids.append(d)
        keysets[d] = set(int(k) for k in s["band_keys"])
    buckets = collections.defaultdict(list)
    for d in ids:
        for k in keysets[d]:
            buckets[k].append(d)
    must = set()
    for k, ms in buckets.items():
        ms = sorted(set(ms))
        if 2 <= len(ms) <= cfg.bucket_cap:
            for i in range(len(ms)):
                for j in range(i + 1, len(ms)):
                    must.add((ms[i], ms[j]))
    assert must, "corpus planted no colliding near-dups; test is vacuous"
    missing = must - got
    assert not missing, f"{len(missing)}/{len(must)} sub-cap bucket pairs missed"

    # precision side: each emitted minhash pair shares the claimed band key
    for (x, y), ks in got_keys.items():
        assert ks <= (keysets[x] & keysets[y]), (x, y)
