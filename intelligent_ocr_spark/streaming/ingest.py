"""Incremental extraction via Structured Streaming.

The reference is a batch tool with resume (SURVEY.md §2.10) — its
"incremental" mode is re-running over a changed input. In Spark, the
natural incremental shape is a file-source stream: new page files landing
in a directory are discovered per micro-batch, run through the SAME fused
extraction operator (``extract_pages`` works unchanged on a streaming
DataFrame — mapInArrow is streaming-compatible), and appended to the
output sink with exactly-once file-source semantics via the stream
checkpoint. This subsumes the reference's checkpoint/resume for the
continuous-ingest case: a killed stream resumes from its offsets log
without reprocessing committed micro-batches.

A watermarked 5-minute windowed lineage aggregate mirrors the per-batch
counters (A1/A3): late pages beyond the watermark are dropped from the
aggregate (policy the reference never had — it simply reprocessed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from intelligent_ocr_spark.operators.extract import extract_pages
from intelligent_ocr_spark.sources.pages import PAGES_SCHEMA

__all__ = [
    "stream_pages",
    "stream_warc_pages",
    "stream_extract",
    "windowed_lineage",
    "windowed_host_links",
    "run_stream_to_parquet",
]


def stream_pages(spark: SparkSession, input_dir: str, max_files_per_trigger: int = 8) -> DataFrame:
    """File-source stream of page parquet files (S1/S2 streaming twin)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def stream_warc_pages(
    spark: SparkSession, path_glob: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """Continuous Common-Crawl ingestion: WARC / WARC.GZ segments landing
    in a directory stream through ``binaryFile`` (one row per segment per
    micro-batch, exactly-once via the stream checkpoint) into the same
    record parser the batch source uses — new crawl segments extract as
    they arrive, no re-listing of processed ones."""
    import pandas as pd

    from intelligent_ocr_spark.sources.warc import parse_warc_bytes

    files = (
        spark.readStream.format("binaryFile")
        # binaryFile's fixed schema, required explicitly for streaming
        .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(path_glob)
        .select("content")
    )

    def op(batches):
        cols = [f.name for f in PAGES_SCHEMA.fields]
        for pdf in batches:
            out: list[dict] = []
            for payload in pdf["content"]:
                out.extend(parse_warc_bytes(bytes(payload)))
            yield pd.DataFrame(out, columns=cols)

    return files.mapInPandas(op, PAGES_SCHEMA)


def stream_extract(pages_stream: DataFrame) -> DataFrame:
    """The fused extraction operator applied to a streaming DataFrame —
    identical code path as batch (operator reuse is the point)."""
    return extract_pages(pages_stream)


def windowed_lineage(extracted_stream: DataFrame) -> DataFrame:
    """5-minute windowed lineage counters with a 10-minute watermark:
    docs / skipped / blank / errors per event-time window."""
    return (
        extracted_stream.withWatermark("warc_ts", "10 minutes")
        .groupBy(F.window("warc_ts", "5 minutes").alias("win"))
        .agg(
            F.count("*").alias("docs"),
            F.sum(F.when(F.col("skipped"), 1).otherwise(0)).alias("skipped"),
            F.sum(F.when(F.col("is_blank"), 1).otherwise(0)).alias("blank"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("errors"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "docs", "skipped", "blank", "errors",
        )
    )


def run_stream_to_parquet(
    spark: SparkSession, input_dir: str, output_dir: str, checkpoint_dir: str
):
    """Start the extraction stream → parquet sink (exactly-once via the
    stream checkpoint — the streaming twin of the batch commit protocol).
    Caller drives it (``processAllAvailable``/``awaitTermination``)."""
    extracted = stream_extract(stream_pages(spark, input_dir))
    return (
        extracted.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


def stream_media_files(
    spark: SparkSession, path_glob: str, max_files_per_trigger: int = 8
) -> DataFrame:
    """Continuous media ingestion: image/audio/video files landing in a
    directory stream through ``binaryFile`` (exactly-once via the stream
    checkpoint) as (doc_id, media, media_type) rows — the type column is
    the JVM-only magic-byte sniff, so routing stays codegen'd even on
    the streaming path."""
    from pyspark.sql import functions as F

    from intelligent_ocr_spark.operators.multimodal import media_type_col

    return (
        spark.readStream.format("binaryFile")
        .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(path_glob)
        .select(
            F.xxhash64("path").alias("doc_id"),
            F.col("content").alias("media"),
            media_type_col("content").alias("media_type"),
        )
    )


def stream_media_stats(media_stream: DataFrame) -> DataFrame:
    """The fused image decode+stats operator applied to a streaming
    DataFrame — the batch ``decode_image_stats`` runs unchanged on a
    stream because it is one stateless ``mapInPandas`` stage (operator
    reuse is the point, as with ``stream_extract``'s ``mapInArrow``)."""
    from intelligent_ocr_spark.operators.multimodal import decode_image_stats

    return decode_image_stats(media_stream)


def windowed_host_links(pages_stream: DataFrame) -> DataFrame:
    """Streaming link-graph feed: anchors extracted from arriving pages
    (same zero-exchange ``extract_links`` code path as batch — the html
    BINARY column decodes via a permissive cast so malformed legacy
    bytes yield replacement chars instead of failing the micro-batch), aggregated to watermarked
    5-minute windows of per-target-host in-link counts. This is the
    crawl frontier's freshness signal: which hosts the newest crawl
    slice points at, exactly-once per segment via the stream
    checkpoint."""
    from intelligent_ocr_spark.operators.web import extract_links

    pages = pages_stream.select(
        "url", "warc_ts", F.col("html").cast("string").alias("html")
    )
    links = extract_links(pages, keep=["warc_ts"])
    return (
        links.withWatermark("warc_ts", "10 minutes")
        .groupBy(
            F.window("warc_ts", "5 minutes").alias("win"),
            F.col("dst_host"),
        )
        .agg(F.count(F.lit(1)).alias("n_links"))
        .select(F.col("win.start").alias("win_start"), "dst_host", "n_links")
    )
