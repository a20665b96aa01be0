"""Structured Streaming surface.

The reference has no stream processing (SURVEY.md §2.8) — its only
"streaming" artifact is a reconnect loop (`ingress/db/db.go:108-132`).  The
graft is batch-first; this package exists to prove the engine's operators
also run under `readStream` (file source → windowless aggregation → memory
sink) for incremental ingest of new WARC drops.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession


def collect_stream(
    spark: SparkSession, stream: DataFrame, schema: str,
    output_mode: str = "append",
) -> DataFrame:
    """Run `stream` into a memory sink until every currently-available
    input is processed, then return its rows as a batch frame of `schema`.

    DEMO/TEST harness: the memory sink + collect hold the whole result on
    the driver (the temp view is dropped before returning, so nothing
    outlives the call).  A production stream writes through a
    `foreachBatch` sink such as `extract_stream_job` instead."""
    name = "collect_stream_" + uuid.uuid4().hex[:8]
    q = (
        stream.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # materialize before the memory sink is dropped
    try:
        rows = spark.table(name).collect()
    finally:
        spark.catalog.dropTempView(name)
    return spark.createDataFrame(rows, schema=schema)
