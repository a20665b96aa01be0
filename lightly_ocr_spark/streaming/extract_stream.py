"""Incremental extraction: the SAME fused operator under Structured
Streaming.

Batch is the product (SURVEY.md §2.8) — this proves the extraction stage is
engine-agnostic: `readStream` over a pages directory (new WARC drops appear
as new files), `extract_pages` unchanged, append-mode sink.  With a real
sink (kafka/Iceberg) the `foreachBatch` path gives exactly-once commits via
the same manifest discipline as the batch job.
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import DataFrame, SparkSession

from lightly_ocr_spark.jobs import require_local_path, write_json_atomic
from lightly_ocr_spark.operators.extract_udf import extract_pages
from lightly_ocr_spark.schemas import PAGES_SCHEMA
from lightly_ocr_spark.streaming import collect_stream

# the rows every extraction stream yields
EXTRACTED_ROWS = "url string, text string, extract_sha256 string"


def extracted_rows(pages: DataFrame) -> DataFrame:
    """pages stream -> its (url, text, extract_sha256) extraction stream."""
    return extract_pages(pages).select("url", "text", "extract_sha256")


def _pages_stream(
    spark: SparkSession, pages_dir: str, max_files_per_trigger: int
) -> DataFrame:
    """File-source stream over a pages parquet directory."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(pages_dir)
    )


def extract_stream(
    spark: SparkSession, pages_dir: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """Run the extraction as a file-source stream to completion; returns the
    materialized extracted rows (url, text, extract_sha256)."""
    pages = _pages_stream(spark, pages_dir, max_files_per_trigger)
    return collect_stream(spark, extracted_rows(pages), EXTRACTED_ROWS)


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
    completion of currently-available files; returns a summary.  Local
    filesystem only: an `out_dir` with a URI scheme raises `ValueError`."""
    require_local_path(out_dir)
    extracted = extracted_rows(
        _pages_stream(spark, pages_dir, max_files_per_trigger)
    )
    manifests_dir = os.path.join(out_dir, "_manifests")
    os.makedirs(manifests_dir, exist_ok=True)

    def write_epoch(df, epoch_id: int) -> None:
        path = os.path.join(out_dir, f"epoch={epoch_id}")
        df.write.mode("overwrite").parquet(path)
        n = spark.read.parquet(path).count()
        write_json_atomic(
            os.path.join(manifests_dir, f"epoch-{epoch_id}.json"),
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
    manifests = sorted(glob.glob(os.path.join(manifests_dir, "epoch-*.json")))
    total = 0
    for m in manifests:
        with open(m) as f:
            total += json.load(f)["rows"]
    return {"epochs": len(manifests), "rows_out": total}
