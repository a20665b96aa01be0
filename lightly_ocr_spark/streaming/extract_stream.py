"""Incremental extraction: the SAME fused operator under Structured
Streaming.

Batch is the product (SURVEY.md §2.8) — this proves the extraction stage is
engine-agnostic: `readStream` over a pages directory (new WARC drops appear
as new files), `extract_pages` unchanged, append-mode sink.  With a real
sink (kafka/Iceberg) the `foreachBatch` path gives exactly-once commits via
the same manifest discipline as the batch job.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession

from lightly_ocr_spark.jobs import write_json_atomic
from lightly_ocr_spark.operators.extract_udf import extract_pages
from lightly_ocr_spark.schemas import PAGES_SCHEMA


def extract_stream(
    spark: SparkSession, pages_dir: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """Run the extraction as a file-source stream to completion; returns the
    materialized extracted rows (url, text, extract_sha256)."""
    stream_pages = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(pages_dir)
    )
    extracted = extract_pages(stream_pages).select(
        "url", "text", "extract_sha256"
    )
    name = "extract_stream_" + uuid.uuid4().hex[:8]
    q = (
        extracted.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    try:
        rows = spark.table(name).collect()
    finally:
        spark.catalog.dropTempView(name)
    return spark.createDataFrame(
        rows, schema="url string, text string, extract_sha256 string"
    )


def extract_stream_job(
    spark: SparkSession, pages_dir: str, out_dir: str, checkpoint_dir: str,
    max_files_per_trigger: int = 2,
) -> dict:
    """Exactly-once streaming extraction sink: `foreachBatch` writes each
    epoch's rows to `epoch=K/` idempotently (mode=overwrite re-runs a
    half-written epoch cleanly) and commits a per-epoch manifest AFTER the
    write — the streaming twin of the batch job's slice/manifest discipline.

    Restart semantics come from the checkpoint: a restarted query resumes
    from the last committed offsets, re-processing at most the one epoch
    whose write raced the failure, which the overwrite absorbs.  Run to
    completion of currently-available files; returns a summary."""
    import json as _json
    import os as _os

    stream_pages = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(pages_dir)
    )
    extracted = extract_pages(stream_pages).select(
        "url", "text", "extract_sha256"
    )
    manifests_dir = _os.path.join(out_dir, "_manifests")
    _os.makedirs(manifests_dir, exist_ok=True)

    def write_epoch(df, epoch_id: int) -> None:
        path = _os.path.join(out_dir, f"epoch={epoch_id}")
        df.write.mode("overwrite").parquet(path)
        n = spark.read.parquet(path).count()
        write_json_atomic(
            _os.path.join(manifests_dir, f"epoch-{epoch_id}.json"),
            {"epoch": int(epoch_id), "rows": int(n)},
        )

    q = (
        extracted.writeStream.foreachBatch(write_epoch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    import glob as _glob

    manifests = sorted(_glob.glob(_os.path.join(manifests_dir, "epoch-*.json")))
    total = 0
    for m in manifests:
        with open(m) as f:
            total += _json.load(f)["rows"]
    return {"epochs": len(manifests), "rows_out": total}
