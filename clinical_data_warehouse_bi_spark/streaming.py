"""Structured Streaming surface (SURVEY.md section 2.10 notes the
reference is pure batch; README.md:151 lists real-time decision
support as future work).

- dedup_events: exact event dedup within a watermark horizon; its
  batch dual is the benched q_stream_dedup_dual.
- read_event_stream / run_to_memory: file-source reader and
  memory-sink driver for the streaming tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", StringType()),  # kept string-agnostic for sinks
    ]
)


def read_event_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream: each new parquet file in `path` is a
    micro-batch. At scale the same operators run off Kafka — only
    this reader changes."""
    return (
        spark.readStream.format("parquet")
        .schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .load(path)
    )


def dedup_events(
    stream: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup: drop repeated ``keys`` within the
    watermark horizon (dropDuplicatesWithinWatermark — state is
    bounded by the watermark, unlike plain dropDuplicates whose state
    grows forever on an unbounded stream): at-least-once sources
    (Kafka redeliveries, replayed files) become effectively-once
    event feeds.

    Unified: on a batch DataFrame the bounded-state machinery is
    meaningless (Spark rejects dropDuplicatesWithinWatermark outside
    streaming), so the same call degrades to plain key-dedup — the
    value-checked batch dual is q_stream_dedup_dual."""
    if not stream.isStreaming:
        return stream.dropDuplicates(keys or ["event_id"])
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def run_to_memory(result: DataFrame, name: str):
    """Drive a streaming DataFrame to completion against the memory
    sink (test/drive helper): returns the started query; caller does
    `q.processAllAvailable()` then reads `spark.sql(f"SELECT * FROM
    {name}")`."""
    return (
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
