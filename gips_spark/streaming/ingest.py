"""Streaming page ingest: watermark + dedup + tumbling per-cell counts.

The reference is pure batch; its only latency concept is per-asset
`latency` days (SURVEY.md §2.9).  The engine's streaming surface maps
that to a watermark: late pages beyond the watermark are dropped from
windowed aggregates; urls are deduped in-state.

Tested with file-source + Trigger.AvailableNow (no long-running jobs in
the sandbox); on a cluster the same code points readStream at the
Iceberg/Kafka source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gips_spark.functions import udfs

PAGES_DDL = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def read_pages_stream(spark: SparkSession, path: str) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_DDL)
        .option("maxFilesPerTrigger", 4)
        .parquet(path)
    )


def streaming_cell_counts(
    pages_stream: DataFrame,
    watermark: str = "7 days",
    window: str = "1 day",
) -> DataFrame:
    """watermark → dropDuplicates(url) → geocode + cells → tumbling
    per-cell counts.  The kernel is batch assign's (udfs.geocode_and_cells),
    so a page gets the same cell streamed or batched."""
    deduped = pages_stream.withWatermark("warc_ts", watermark).dropDuplicates(
        ["url"]
    )
    enriched = deduped.withColumn(
        "e", udfs.geocode_and_cells(F.col("url"), F.col("text"))
    ).select("warc_ts", "e.h3_7", "e.geocode_src")
    return (
        enriched.where(F.col("geocode_src") != "none")
        .groupBy(F.window("warc_ts", window).alias("w"), F.col("h3_7"))
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "h3_7",
            "n_pages",
        )
    )


def run_available_now(
    spark: SparkSession, in_path: str, out_path: str, checkpoint: str
) -> None:
    """Drain everything currently in `in_path` into `out_path` (batch-ish
    streaming execution — the sandbox test harness entry)."""
    counts = streaming_cell_counts(read_pages_stream(spark, in_path))
    q = (
        counts.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_crawl_sessions(
    pages_stream: DataFrame,
    watermark: str = "7 days",
    gap: str = "30 minutes",
) -> DataFrame:
    """Gap-based per-url crawl sessions over the stream (session_window
    + watermark; append mode emits a session once the watermark passes
    its close).  Batch equivalent: the `session_windows` driver query's
    gaps-and-islands semantics, per url."""
    return (
        pages_stream.withWatermark("warc_ts", watermark)
        .groupBy(
            F.session_window(F.col("warc_ts"), gap).alias("w"), F.col("url")
        )
        .agg(F.count(F.lit(1)).alias("n_crawls"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "url",
            "n_crawls",
        )
    )


def run_sessions_available_now(
    spark: SparkSession, in_path: str, out_path: str, checkpoint: str,
    gap: str = "30 minutes",
) -> None:
    q = (
        streaming_crawl_sessions(read_pages_stream(spark, in_path), gap=gap)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
