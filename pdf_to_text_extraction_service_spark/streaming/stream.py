"""Structured Streaming variant of the extraction pipeline.

``readStream`` over a pages directory → the SAME mapInArrow
extraction stage as the batch plan (the kernel UDF is
engine-agnostic) → watermarked url dedup → parquet sink with
checkpointing.

Semantics note: batch dedup is latest-capture-wins (max warc_ts over
the whole table); streaming dedup is FIRST-arrival-wins within the
watermark horizon (``dropDuplicatesWithinWatermark``) — the standard
streaming trade: you cannot wait for a later capture that may never
come. A nightly batch compaction over the streamed output
(operators/dedup.dedup_latest) reconciles the two, which is how the
lambda-style deployment of this engine resolves late captures.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..functions.extract_udf import extract

PAGES_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("html", BinaryType()),
    StructField("text", StringType()),
    StructField("lang", StringType()),
])


def streaming_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str = "2 hours",
    dedup: bool = True,
    available_now: bool = True,
):
    """Start (and with available_now=True, run to completion) the
    streaming extraction job. Returns the StreamingQuery."""
    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", "8")
        .parquet(input_dir)
    )
    extracted = extract(stream).drop("pages")
    if dedup:
        extracted = (
            extracted.withWatermark("warc_ts", watermark)
            .dropDuplicatesWithinWatermark(["url"])
        )
    writer = (
        extracted.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
