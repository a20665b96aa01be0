"""Sources: synthetic and benchmark corpora, the WARC / JSONL / raw-dir
ingest readers, and `read_pages`, the one reader every job takes its
input through."""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession

from lightly_ocr_spark.schemas import PAGES_SCHEMA
from lightly_ocr_spark.sources.jsonl import read_jsonl_pages
from lightly_ocr_spark.sources.warc import warc_pages

# input format -> (file glob inside an input directory, pages reader)
PAGE_FORMATS = {
    "pages": ("*.parquet",
              lambda spark, paths: spark.read.schema(PAGES_SCHEMA)
              .parquet(*paths)),
    "warc": ("*.warc*", warc_pages),
    "jsonl": ("*.jsonl*", read_jsonl_pages),
}


def _page_format(input_format: str):
    try:
        return PAGE_FORMATS[input_format]
    except KeyError:
        raise ValueError(
            f"unknown input format {input_format!r}: expected one of "
            f"{', '.join(PAGE_FORMATS)}"
        ) from None


def page_files(path: str, input_format: str = "pages") -> list[str]:
    """The sorted `input_format` files under directory `path`, or `[path]`
    when it names one file."""
    pattern, _ = _page_format(input_format)
    if not os.path.isdir(path):
        return [path]
    files = sorted(glob.glob(os.path.join(path, pattern)))
    if not files:
        raise FileNotFoundError(f"no {pattern} files under {path}")
    return files


def read_pages(
    spark: SparkSession, paths: str | list[str], input_format: str = "pages"
) -> DataFrame:
    """Pages parquet, WARC archives or JSONL(.gz) dumps -> the canonical
    pages frame (url, warc_ts, html, ...).  `paths` is one file or
    directory, or a list of files."""
    _, reader = _page_format(input_format)
    return reader(spark, [paths] if isinstance(paths, str) else paths)
