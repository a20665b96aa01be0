"""File-source Structured Streaming demo: incremental event counting.

Used by `__spark_entry__.queries()['st1_streaming_counts']`: the same
aggregation as a batch groupBy, executed through the streaming engine
(readStream → complete-mode memory sink → processAllAvailable), proving
batch/stream parity on this operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lightly_ocr_spark.streaming import collect_stream


def streaming_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    batch_df = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("pathGlobFilter", "events.parquet")  # file source needs a dir
        .parquet(sf_dir)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return collect_stream(spark, stream, "event_type string, n long",
                          output_mode="complete")
