"""Structured Streaming ingestion for a continuously-crawled edge table.

The reference is batch-only (SURVEY.md §2.5: no streaming); this is the
[EXT] path a Common-Crawl-style pipeline needs: edges land as parquet
files in a directory (the file-source contract also covers
Iceberg/Kafka swaps) and are read with ``read_edge_stream``. On that
stream:

- ``stream_edges``        — canonicalized streaming edge rows,
- ``stream_degree_counts``— windowed degree aggregation with a
                            watermark for late data,
- ``run_available_now``   — drains either into a parquet sink with the
  ``availableNow`` trigger: testable, resumable incremental batches
  (checkpointLocation carries the stream state).

Incremental triangle counting over streamed edges is in
``streaming/incremental.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EDGE_EVENT_SCHEMA = "src long, dst long, ts timestamp"


def read_edge_stream(spark: SparkSession, path: str) -> DataFrame:
    return (
        spark.readStream.schema(EDGE_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(path)
    )


def stream_edges(raw: DataFrame) -> DataFrame:
    """Streaming canonicalization: drop self-loops, emit both directions.
    (Streaming dedup across the full history needs state; within the
    stream we rely on downstream idempotent sinks / batch compaction —
    the lambda-architecture split the reference's batch pipeline implies.)"""
    e = raw.where(F.col("src") != F.col("dst"))
    return e.select("src", "dst", "ts").unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "ts")
    )


def stream_degree_counts(raw: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Windowed degree counts with late-data watermark:
    ``window, v, deg`` per event-time window."""
    sym = stream_edges(raw)
    return (
        sym.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("dst").alias("v"))
        .agg(F.count("*").alias("deg"))
        .select(F.col("w.start").alias("win_start"), "v", "deg")
    )


def run_available_now(stream_df: DataFrame, out_path: str, checkpoint: str) -> None:
    """Drain everything currently available, then stop — the testable and
    resumable incremental-batch mode."""
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
