"""Incremental signature maintenance via Structured Streaming.

Batch pipeline stages are pure DataFrame->DataFrame functions, so the signing
stage composes directly with readStream: new documents landing in a directory
are signed with the same vectorized kernels and appended to the signatures
table.  Downstream (bucket/pairs/verify/cluster) remains batch — re-run over
the grown signatures table; a fully streaming CC would need
applyInPandasWithState and is out of scope per SURVEY.md §2.8.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from qalsh_spark.config import DedupConfig
from qalsh_spark.functions.signatures import prepare_documents, sign_documents


def streaming_exact_dedup(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
    schema: str = "url string, warc_ts timestamp, html binary, text string, lang string",
):
    """Stateful streaming exact-dedup: keep the first arrival of each
    byte-identical text, drop later copies — the streaming twin of the batch
    pipeline's exact-group pre-pass (plans/pipeline.py), keyed on the same
    collision-safe (length(text), xxhash64(text)) pair.

    Uses dropDuplicatesWithinWatermark: state for a given key is reclaimed
    once the event-time watermark passes it, so state size is bounded by the
    duplicate-arrival window rather than the corpus — the property that
    makes this runnable forever on a crawl firehose.  Returns the
    StreamingQuery (caller stops it).

    Rows arriving with html but no extracted text go through the SAME
    extraction pre-step as the batch pipeline (ensure_text split-union)
    before keying — without it every null-text row would share one dedup
    key (length(NULL) is NULL, xxhash64(NULL) is a constant, and
    dropDuplicates treats NULL keys as equal), silently dropping every
    html-only document after the first."""
    import pyspark.sql.functions as F

    from qalsh_spark.functions.signatures import ensure_text

    stream = ensure_text(spark.readStream.schema(schema).parquet(input_dir))
    deduped = (
        stream.withColumn("text_len", F.length("text"))
        .withColumn("text_hash", F.xxhash64("text"))
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["text_len", "text_hash"])
        .drop("text_len", "text_hash")
    )
    return (
        deduped.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def incremental_signatures(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    cfg: DedupConfig | None = None,
    schema: str = "url string, warc_ts timestamp, html binary, text string, lang string",
):
    """Start a stream: parquet documents arriving in input_dir -> signatures
    appended to output_dir. Returns the StreamingQuery (caller stops it)."""
    cfg = cfg or DedupConfig()
    stream = spark.readStream.schema(schema).parquet(input_dir)
    signed: DataFrame = sign_documents(prepare_documents(stream), cfg)
    return (
        signed.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
