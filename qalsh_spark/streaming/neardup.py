"""Stateful streaming near-duplicate candidate discovery.

Batch pair generation (operators/pairs.py) groups the FULL bucket stream per
band key; a stream cannot wait for the full bucket, so this operator keeps
per-bucket membership as keyed state: each (lane_id, band_key) group remembers
the doc_ids seen so far (capped), and every new arrival emits candidate pairs
against the remembered members — the streaming twin of the batch bucket
self-join, with the same hot-bucket escape hatch (beyond the cap, a new
arrival pairs only with the bucket's hub — star pairing, mirroring
operators/pairs.py's bucket_cap rule, which mirrors the reference's bounded
per-bucket candidate scan /root/reference/methods/qalsh.h:435-468).

State is bounded two ways:
  * per bucket, by the member cap (hot boilerplate buckets stop accumulating);
  * in bucket count, by an event-time timeout — a bucket whose last arrival
    is older than the watermark delay is dropped.  Duplicate pairs separated
    by more than the window are missed by THIS incremental pass and left to a
    periodic batch sweep (the standard dedup-at-ingest posture: the stream
    catches the overwhelmingly common near-in-time recrawl dups cheaply; the
    batch pipeline remains the ground truth).

Emitted candidates are exactly what the batch verifier consumes, so
verification composes as `foreachBatch(verify)` or a downstream batch join —
candidate discovery is the only stage that needs cross-row state.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import SparkSession

from qalsh_spark.config import DedupConfig
from qalsh_spark.functions.signatures import prepare_documents, sign_documents
from qalsh_spark.operators.banding import LANE_MINHASH, LANE_SIMHASH, _lane

_PAIR_SCHEMA = T.StructType(
    [
        T.StructField("a", T.LongType()),
        T.StructField("b", T.LongType()),
        T.StructField("lane_id", T.ByteType()),
        T.StructField("band_key", T.LongType()),
    ]
)

# members: doc_ids remembered for this bucket, insertion (arrival) order —
# members[0] is the hub once the cap is hit.
_STATE_SCHEMA = T.StructType(
    [T.StructField("members", T.ArrayType(T.LongType()))]
)


def _pair_generator(cap: int, timeout_ms: int):
    """Build the applyInPandasWithState function.

    Per group invocation: emit (a, b) for every new doc against the
    remembered members (all of them below the cap; only the hub above it),
    then fold the new docs into state.  Arrival order inside a micro-batch is
    made deterministic by sorting on (warc_ts, doc_id) — the same
    earliest-arrival-wins tie-break the batch representative pick uses.
    """

    def gen(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        lane_id, band_key = key
        members: list[int] = list(state.get[0]) if state.exists else []
        seen = set(members)
        a_out: list[int] = []
        b_out: list[int] = []
        last_ms = 0
        for pdf in pdfs:
            pdf = pdf.sort_values(["warc_ts", "doc_id"], kind="stable")
            ts_max = pdf["warc_ts"].max()
            if pd.notna(ts_max):
                last_ms = max(last_ms, int(ts_max.value // 1_000_000))
            for d in pdf["doc_id"].astype("int64"):
                d = int(d)
                if d in seen:
                    continue
                targets = members if len(members) < cap else members[:1]
                for m in targets:
                    a_out.append(min(d, m))
                    b_out.append(max(d, m))
                if len(members) < cap:
                    members.append(d)
                seen.add(d)
        state.update((members,))
        # Reclaim the bucket once the event-time watermark has advanced past
        # its last arrival by the configured delay: quiet buckets cost
        # nothing forever.  (Timeout must land strictly past the current
        # watermark; the watermark base covers all-NaT timestamp batches.)
        state.setTimeoutTimestamp(
            max(last_ms, state.getCurrentWatermarkMs()) + timeout_ms
        )
        if a_out:
            n = len(a_out)
            yield pd.DataFrame(
                {
                    "a": pd.Series(a_out, dtype="int64"),
                    "b": pd.Series(b_out, dtype="int64"),
                    "lane_id": pd.Series([lane_id] * n, dtype="int8"),
                    "band_key": pd.Series([band_key] * n, dtype="int64"),
                }
            )

    return gen


def streaming_neardup_candidates(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    cfg: DedupConfig | None = None,
    watermark: str = "1 hour",
    schema: str = "url string, warc_ts timestamp, html binary, text string, lang string",
    max_files_per_trigger: int | None = None,
):
    """Start a stream: documents landing in input_dir -> near-dup candidate
    pairs (a, b, lane_id, band_key) appended to output_dir.

    Documents are signed by the SAME vectorized kernels as the batch pipeline
    (byte-identical signatures — tests/test_streaming.py holds the
    incremental lane to that), exploded to minhash + simhash bucket rows, and
    run through a keyed state store per (lane_id, band_key).  Returns the
    StreamingQuery (caller stops it).

    Scale shape: the only shuffle is the groupBy on (lane_id, band_key) —
    the same single exchange of the slim bucket stream the batch pair
    generator performs — and state per bucket is capped at cfg.bucket_cap
    members, so executor state-store footprint is O(active buckets x cap x
    8 bytes) regardless of corpus size.
    """
    cfg = cfg or DedupConfig()
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)
    signed = sign_documents(prepare_documents(stream), cfg)
    buckets = signed.select(
        "doc_id",
        "warc_ts",
        F.explode(
            F.concat(
                _lane("band_keys", LANE_MINHASH),
                _lane("simhash_keys", LANE_SIMHASH),
            )
        ).alias("band"),
    ).select("doc_id", "warc_ts", "band.lane_id", "band.band_key")

    timeout_ms = _interval_ms(spark, watermark)
    pairs = (
        buckets.withWatermark("warc_ts", watermark)
        .groupBy("lane_id", "band_key")
        .applyInPandasWithState(
            _pair_generator(cfg.bucket_cap, timeout_ms),
            outputStructType=_PAIR_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf="EventTimeTimeout",
        )
    )
    return (
        pairs.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def _interval_ms(spark: SparkSession, interval: str) -> int:
    """Parse a SQL interval string ('1 hour') to milliseconds, JVM-side so
    the accepted grammar is exactly withWatermark's."""
    row = spark.sql(
        "SELECT unix_millis(timestamp'1970-01-01 00:00:00Z' "
        f"+ INTERVAL '{interval}') AS ms"
    ).collect()
    return int(row[0]["ms"])
