"""Stage catalog: checkpointed stage outputs + lineage, the analog of the
reference's persisted index + `para` metadata file
(/root/reference/methods/qalsh.h:255-281 write_params, 322-341 reload ctor):
a completed stage can be reloaded instead of recomputed, and the persisted
metadata proves the parameters match.

Contract (SURVEY.md §7.5): the catalog abstracts over Iceberg vs plain
Parquet.  The Iceberg runtime jar is not available in-sandbox, so the default
implementation is Parquet directories + a manifest JSON per stage carrying
{config_hash, input_fingerprint, rows, wall_ms, written_at_commit} — the same
snapshot-pinning contract (an Iceberg implementation would swap
`writeTo(...).createOrReplace()` in and read `snapshot_id` out, nothing else
changes).  A `pipeline_runs` parquet table accumulates one row per written
stage (stage, config_hash, input_fingerprint, rows, wall_ms); the
reference's analog is its I/O accounting g_page_io / dist_io_
(methods/qalsh.h:51-52).  Like the manifests, those rows are written from
the driver (pyarrow), so logging a stage costs no Spark job.
"""

from __future__ import annotations

import json
import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


# One `pipeline_runs` row per written stage (Spark reads it as
# stage string, config_hash string, input_fingerprint string, rows bigint,
# wall_ms bigint).
_RUNS_SCHEMA = pa.schema(
    [
        ("stage", pa.string()),
        ("config_hash", pa.string()),
        ("input_fingerprint", pa.string()),
        ("rows", pa.int64()),
        ("wall_ms", pa.int64()),
    ]
)


class StageCatalog:
    def __init__(self, root: str, config_hash: str):
        self.root = root
        self.config_hash = config_hash
        os.makedirs(root, exist_ok=True)

    def _stage_dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self.root, f"{name}.manifest.json")

    def has_valid(self, name: str, input_fingerprint: str) -> bool:
        mp = self._manifest_path(name)
        if not os.path.exists(mp):
            return False
        try:
            m = json.load(open(mp))
        except (json.JSONDecodeError, OSError):
            return False
        return (
            m.get("config_hash") == self.config_hash
            and m.get("input_fingerprint") == input_fingerprint
            and m.get("complete") is True
        )

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        return spark.read.parquet(self._stage_dir(name))

    def write(
        self,
        df: DataFrame,
        name: str,
        input_fingerprint: str,
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        """Materialize a stage; returns the re-read DataFrame (so downstream
        plans read from the checkpoint, not the lineage — the resume point)."""
        t0 = time.time()
        path = self._stage_dir(name)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        spark = df.sparkSession
        out = spark.read.parquet(path)
        rows = _parquet_rows(path)  # footer metadata — no Spark job
        wall_ms = int((time.time() - t0) * 1000)
        manifest = {
            "stage": name,
            "config_hash": self.config_hash,
            "input_fingerprint": input_fingerprint,
            "rows": rows,
            "wall_ms": wall_ms,
            "complete": True,
        }
        with open(self._manifest_path(name), "w") as f:
            json.dump(manifest, f, indent=2)
        self._append_run(manifest)
        return out

    def _append_run(self, manifest: dict) -> None:
        """Append one row to `pipeline_runs` from the driver: a one-row
        parquet part file written with pyarrow (no Spark job), staged under
        a dot-name that readers skip and renamed into place, so a reader
        never sees a torn file."""
        runs_path = os.path.join(self.root, "pipeline_runs")
        os.makedirs(runs_path, exist_ok=True)
        row = pa.Table.from_pylist(
            [{k: manifest[k] for k in _RUNS_SCHEMA.names}], schema=_RUNS_SCHEMA
        )
        name = f"part-{uuid.uuid4().hex}.snappy.parquet"
        tmp = os.path.join(runs_path, "." + name)
        pq.write_table(row, tmp, compression="snappy")
        os.replace(tmp, os.path.join(runs_path, name))


def _parquet_rows(path: str) -> int:
    """Row count from parquet footers (pyarrow metadata read) — replaces the
    per-stage Spark `count()` that re-scanned every checkpoint."""
    try:
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    total += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
        return total
    except Exception:
        return -1


def read_documents(spark: SparkSession, path: str) -> DataFrame:
    """Read an input_hint-shaped documents table
    (url, warc_ts, html, text, lang) from parquet/dir.

    Tables without the canonical `url` primary key (e.g. the driver testdata
    shape documents(doc_id, text, lang, source, n_chars)) are routed through
    `adapt_documents`, so every entry point — jobs/dedup.py included —
    accepts either shape; canonical inputs pass through untouched."""
    p = path if path.endswith(".parquet") else os.path.join(path, "documents.parquet")
    df = spark.read.parquet(p)
    return df if "url" in df.columns else adapt_documents(df)


def adapt_documents(df: DataFrame) -> DataFrame:
    """Adapt alternative document schemas (e.g. the driver-provided testdata
    table documents(doc_id, text, lang, source, n_chars)) to the canonical
    input_hint shape. A synthetic stable url is minted from doc_id when
    absent; missing html/warc_ts become nulls (extraction is skipped when
    `text` is already populated — SURVEY.md §3.4 stage 2)."""
    cols = set(df.columns)
    out = df
    if "url" not in cols:
        out = out.withColumn(
            "url", F.concat(F.lit("synthetic://doc/"), F.col("doc_id").cast("string"))
        )
    if "warc_ts" not in cols:
        out = out.withColumn("warc_ts", F.lit(None).cast("timestamp"))
    if "html" not in cols:
        out = out.withColumn("html", F.lit(None).cast("binary"))
    if "lang" not in cols:
        out = out.withColumn("lang", F.lit(None).cast("string"))
    return out.select("url", "warc_ts", "html", "text", "lang")
