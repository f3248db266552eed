"""Structured Streaming ingest shim.

The reference is a batch system; its closest streaming artifacts are the
scanner work queues and drain loop (/root/reference/scanner/scanner.py:59-61,
:160-173) and the 6-hourly index reload (/root/reference/server/server.py:136-144).
The Spark-native equivalent is a file-source stream over the crawl landing
directory: each micro-batch runs the same incremental-ingest MERGE the batch
path uses (exactly-once via the streaming checkpoint + the catalog's atomic
snapshot commit), so "the index" is always the latest docs snapshot — no
periodic rebuild.

Also provides a watermarked crawl-rate aggregation (event-time windows over
warc_ts) as the A10 progress-counter analog
(/root/reference/scanner/uiFrontend.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..config import DEFAULT_CONFIG, DedupConfig
from ..sources.catalog import ParquetCatalog
from ..sources.ingest import incremental_ingest

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)


def stream_pages(spark: SparkSession, landing_dir: str) -> DataFrame:
    """File-source stream over parquet drops in the crawl landing directory."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(landing_dir)
    )


def run_ingest_stream(
    spark: SparkSession,
    landing_dir: str,
    catalog: ParquetCatalog,
    checkpoint_dir: str,
    cfg: DedupConfig = DEFAULT_CONFIG,
    extract: bool = True,
    available_now: bool = True,
):
    """Start (and with available_now=True, drain) the ingest stream.

    foreachBatch gives each micro-batch full batch-DataFrame semantics, so the
    anti-join + MERGE incremental path is shared verbatim with batch ingest.
    """
    stream = stream_pages(spark, landing_dir)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        incremental_ingest(spark, catalog, batch_df, cfg, extract=extract)

    writer = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.trigger(processingTime="30 seconds").start()


def crawl_rate(pages: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Event-time pages/window with late-data watermark; works on both batch
    and streaming DataFrames (same plan, per Structured Streaming semantics)."""
    return (
        pages.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), F.col("lang"))
        .agg(F.count("*").alias("n_pages"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "lang",
            "n_pages",
        )
    )


def stream_media(spark: SparkSession, landing_dir: str) -> DataFrame:
    """Streaming scan over a media landing zone (MEDIA_SCHEMA parquet drops).

    decode_media / resize_media are stateless Arrow-batched mapInPandas
    stages, so they apply to this stream unchanged — the streaming twin of
    the batch multimodal pipeline is literally the same operator chain, and
    Structured Streaming's file-source tracking gives exactly-once per
    landed file. At 100 TB scale this is the shape of a continuous media
    ingest: land payload files, decode incrementally, never re-decode what a
    previous trigger already processed."""
    from ..functions.multimodal import MEDIA_SCHEMA

    return spark.readStream.schema(MEDIA_SCHEMA).parquet(landing_dir)
