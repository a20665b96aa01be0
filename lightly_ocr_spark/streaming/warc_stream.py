"""Streaming WARC ingest: crawl archives land in a directory, extraction
follows incrementally.

`binaryFile` is a streaming-capable file source, so the batch front door
(`sources/warc.py`: archive bytes -> one mapInPandas explode -> pages) runs
UNCHANGED under `readStream` — each newly-dropped `.warc.gz` becomes one
trigger's worth of work, parsed with the same streaming member-by-member
decompressor and extracted by the same fused Arrow stage.  This is the
live-crawl shape: a fetcher fleet appends archives, the extraction keeps
up, and the `extract_stream_job` sink discipline (idempotent epoch
overwrite + manifests + checkpoint restart) applies on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from lightly_ocr_spark.sources.warc import explode_archives
from lightly_ocr_spark.streaming import collect_stream
from lightly_ocr_spark.streaming.extract_stream import (
    EXTRACTED_ROWS,
    extracted_rows,
)


def warc_pages_stream(
    spark: SparkSession, warc_dir: str, max_files_per_trigger: int = 1,
) -> DataFrame:
    """Streaming analog of `sources.warc.warc_pages`: a binaryFile stream
    over the archive directory, exploded to pages rows per trigger via the
    SAME shared `explode_archives` projection as the batch path."""
    # streaming sources require an explicit schema; binaryFile's is fixed
    files = (
        spark.readStream.format("binaryFile")
        .schema("path string, modificationTime timestamp, "
                "length long, content binary")
        .option("pathGlobFilter", "*.warc*")
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .load(warc_dir)
    )
    return explode_archives(files)


def extract_warc_stream(
    spark: SparkSession, warc_dir: str, max_files_per_trigger: int = 1,
) -> DataFrame:
    """Run archives -> pages -> extraction as one stream to completion;
    returns the materialized (url, text, extract_sha256) rows.

    DEMO/TEST harness (see `collect_stream`): a production stream pairs
    `warc_pages_stream` with `extract_stream_job`'s exactly-once
    foreachBatch sink instead — never a driver-side materialization."""
    pages = warc_pages_stream(spark, warc_dir, max_files_per_trigger)
    return collect_stream(spark, extracted_rows(pages), EXTRACTED_ROWS)
