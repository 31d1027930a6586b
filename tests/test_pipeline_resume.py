"""Checkpoint/resume/lineage/integrity tests (reference semantics:
core/checkpoint.py state machine + core/pdf_processor.py resume flow)."""

import os

import pytest

from pyspark.sql import functions as F

from intelligent_ocr_spark.operators.extract import EXTRACT_SCHEMA
from intelligent_ocr_spark.plans.checkpoint import read_committed, read_table_dir
from intelligent_ocr_spark.plans.pipeline import (
    IntegrityError,
    finalize_with_fallback,
    make_partition_kill_hook,
    run_extraction_job,
)
from intelligent_ocr_spark.sources.pages import pages_df

N = 200
SNAPSHOT = 777


def test_full_run_then_noop_resume(spark, tmp_path):
    out = str(tmp_path / "out")
    inp = pages_df(spark, N, partitions=4)
    s1 = run_extraction_job(spark, inp, out, SNAPSHOT, num_partitions=8)
    assert s1["docs_processed"] == N
    assert s1["integrity_ok"]

    # resume with nothing to do: zero docs reprocessed (J2 anti-join)
    s2 = run_extraction_job(spark, inp, out, SNAPSHOT, num_partitions=8)
    assert s2["docs_processed"] == 0
    assert s2["partitions_committed"] == 0

    data = read_table_dir(spark, os.path.join(out, "data"))
    assert data.count() == N
    assert data.select("url").distinct().count() == N


def test_kill_and_resume_no_reprocessing(spark, tmp_path):
    """Kill mid-job (some partitions committed, job fails) → rerun resumes:
    only uncommitted urls are processed; final output identical to a
    from-scratch run (the realized version of the reference's skipped
    pipelined-vs-standard equivalence test, tests/test_core.py:312-345)."""
    out = str(tmp_path / "out")
    inp = pages_df(spark, N, partitions=4)

    with pytest.raises(Exception):
        run_extraction_job(
            spark, inp, out, SNAPSHOT, num_partitions=8,
            _partition_fail_hook=make_partition_kill_hook({0, 3, 5}),
        )

    # job abort races with still-running sibling tasks finishing their
    # commits; wait for the checkpoint table to go quiescent before reading
    # the committed count (a real resume-after-kill starts a fresh process,
    # where this race cannot exist).
    import time

    def _committed() -> int:
        ckpt = read_table_dir(spark, os.path.join(out, "checkpoint"))
        return 0 if ckpt is None else ckpt.select("url").distinct().count()

    committed_before = _committed()
    for _ in range(40):
        time.sleep(0.5)
        now = _committed()
        if now == committed_before:
            break
        committed_before = now
    assert 0 < committed_before < N  # partial commit survived the kill

    s = run_extraction_job(spark, inp, out, SNAPSHOT, num_partitions=8)
    assert s["docs_processed"] == N - committed_before  # no reprocessing
    assert s["integrity_ok"]

    # byte-identical to a from-scratch run
    clean = str(tmp_path / "clean")
    run_extraction_job(spark, inp, clean, SNAPSHOT, num_partitions=8)
    resumed = read_table_dir(spark, os.path.join(out, "data")).select(
        "url", "extracted_text", "norm_text"
    )
    scratch = read_table_dir(spark, os.path.join(clean, "data")).select(
        "url", "extracted_text", "norm_text"
    )
    assert resumed.exceptAll(scratch).count() == 0
    assert scratch.exceptAll(resumed).count() == 0


def test_config_change_invalidates_checkpoint(spark, tmp_path):
    """Settings mismatch → committed rows don't qualify for resume
    (reference core/pdf_processor.py:1087-1100)."""
    out = str(tmp_path / "out")
    inp = pages_df(spark, 60, partitions=2)
    run_extraction_job(spark, inp, out, SNAPSHOT, num_partitions=4)
    s = run_extraction_job(
        spark, inp, out, SNAPSHOT, num_partitions=4, min_confidence=0.9
    )
    assert s["docs_processed"] == 60  # full reprocess under new config


def test_snapshot_change_invalidates_checkpoint(spark, tmp_path):
    out = str(tmp_path / "out")
    inp = pages_df(spark, 60, partitions=2)
    run_extraction_job(spark, inp, out, SNAPSHOT, num_partitions=4)
    s = run_extraction_job(spark, inp, out, SNAPSHOT + 1, num_partitions=4)
    assert s["docs_processed"] == 60


def test_integrity_gate_raises_on_missing_urls(spark, tmp_path, monkeypatch):
    """Simulate a torn commit (checkpoint rows lost) → the R5 gate must
    abort instead of silently under-delivering (reference hard assert
    core/pdf_processor.py:1600-1603)."""
    import intelligent_ocr_spark.plans.pipeline as P

    out = str(tmp_path / "out")
    inp = pages_df(spark, 40, partitions=2)
    real = P.completed_urls
    calls = {"n": 0}

    def torn(*args, **kwargs):
        calls["n"] += 1
        res = real(*args, **kwargs)
        # first call = resume lookup (None, fresh run); later = gate readback
        if calls["n"] >= 2 and res is not None:
            return res.limit(10)
        return res

    monkeypatch.setattr(P, "completed_urls", torn)
    with pytest.raises(IntegrityError):
        P.run_extraction_job(spark, inp, out, SNAPSHOT, num_partitions=4)


def test_lineage_integrity_mode(spark, tmp_path):
    """integrity_check='lineage' reconciles checkpoint vs lineage sums
    without re-scanning the input (the 100-TB resume-tail mode)."""
    out = str(tmp_path / "out")
    inp = pages_df(spark, 60, partitions=2)
    s = run_extraction_job(
        spark, inp, out, SNAPSHOT, num_partitions=4, integrity_check="lineage"
    )
    assert s["integrity_ok"] and s["docs_processed"] == 60
    # corrupt: delete one lineage file → counts disagree → gate raises
    lineage_dir = os.path.join(out, "lineage")
    victim = sorted(os.listdir(lineage_dir))[0]
    os.remove(os.path.join(lineage_dir, victim))
    with pytest.raises(IntegrityError):
        run_extraction_job(
            spark, inp, out, SNAPSHOT, num_partitions=4, integrity_check="lineage"
        )


def test_lineage_rows(spark, tmp_path):
    out = str(tmp_path / "out")
    inp = pages_df(spark, N, partitions=4)
    run_extraction_job(spark, inp, out, SNAPSHOT, num_partitions=8)
    lin = read_table_dir(spark, os.path.join(out, "lineage"))
    rows = lin.collect()
    assert sum(r["docs"] for r in rows) == N
    assert all(r["input_snapshot_id"] == SNAPSHOT for r in rows)
    assert sum(r["n_errors"] for r in rows) == N // 20  # malformed class = 5%
    assert sum(len(r["errors"]) for r in rows) <= sum(r["n_errors"] for r in rows)
    assert sum(r["blank"] for r in rows) == N // 20
    assert {r["partition_id"] for r in rows} <= set(range(8))


def test_poisoned_partition_lineage_bounded(spark, tmp_path):
    """A partition where EVERY row quarantines keeps its lineage row
    bounded: errors is a capped sample, n_errors the exact count."""
    from pyspark.sql import Row

    from intelligent_ocr_spark.plans.pipeline import ERROR_SAMPLE_CAP
    from intelligent_ocr_spark.sources.pages import EPOCH, PAGES_SCHEMA

    n_bad = ERROR_SAMPLE_CAP * 4
    rows = [
        Row(
            url=f"https://poison.example/{i}",
            warc_ts=EPOCH,
            # UTF-16-LE BOM + odd payload length -> truncated code unit ->
            # bom_utf16_bad quarantine (even-length garbage would decode)
            html=b"\xff\xfeod" + bytes([i % 256]),
            text="",
            lang=None,
        )
        for i in range(n_bad)
    ]
    inp = spark.createDataFrame(rows, PAGES_SCHEMA).repartition(1)
    out = str(tmp_path / "out")
    summary = run_extraction_job(spark, inp, out, SNAPSHOT, num_partitions=1)
    assert summary["errors"] == n_bad  # exact count survives the cap
    lin = read_table_dir(spark, os.path.join(out, "lineage")).collect()
    assert len(lin) == 1
    assert lin[0]["n_errors"] == n_bad
    assert len(lin[0]["errors"]) == ERROR_SAMPLE_CAP
    assert lin[0]["fallback"] == 0  # empty input text -> nothing recoverable


def test_fallback_counts_recoverable_rows_only(spark, tmp_path):
    """lineage.fallback == rows finalize_with_fallback actually recovers
    (error + usable input text), not every quarantine candidate."""
    from pyspark.sql import Row

    from intelligent_ocr_spark.sources.pages import EPOCH, PAGES_SCHEMA

    rows = [
        # odd-length UTF-16 bodies quarantine (bom_utf16_bad)
        # quarantines, HAS input text -> recoverable
        Row(url="https://f/a", warc_ts=EPOCH, html=b"\xff\xfeodd", text="saved text", lang=None),
        # quarantines, no input text -> not recoverable
        Row(url="https://f/b", warc_ts=EPOCH, html=b"\xff\xfeot2", text="", lang=None),
        # clean row
        Row(url="https://f/c", warc_ts=EPOCH, html=b"<p>fine page here</p>", text="", lang="en"),
    ]
    inp = spark.createDataFrame(rows, PAGES_SCHEMA).repartition(1)
    out = str(tmp_path / "out")
    run_extraction_job(spark, inp, out, SNAPSHOT, num_partitions=1)
    lin = read_table_dir(spark, os.path.join(out, "lineage")).collect()
    assert lin[0]["n_errors"] == 2
    assert lin[0]["fallback"] == 1
    final = finalize_with_fallback(spark, out, inp)
    recovered = final.filter(F.col("is_fallback") & (F.col("final_text") != "")).count()
    assert recovered == lin[0]["fallback"]


def test_fallback_finalize(spark, tmp_path):
    out = str(tmp_path / "out")
    inp = pages_df(spark, N, partitions=4)
    run_extraction_job(spark, inp, out, SNAPSHOT, num_partitions=8)
    final = finalize_with_fallback(spark, out, inp)
    assert final.count() == N
    fb = final.filter(F.col("is_fallback"))
    assert fb.count() == N // 20
    assert final.filter(F.col("final_text").isNull()).count() == 0


def _row_checksum(spark, out):
    """Order-free full-row checksum of the committed data, all 13 columns."""
    data = read_committed(spark, out, "data")
    cols = [F.col(f.name) for f in EXTRACT_SCHEMA.fields]
    return data.agg(F.count("*"), F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))).collect()[0]


def test_input_column_order_and_extra_columns(spark, tmp_path):
    """The commit stage's Arrow kernel reads its input columns by position;
    the job must commit the same rows whatever order the caller's columns
    come in and whatever else the input carries."""
    inp = pages_df(spark, N, partitions=4)
    canonical = str(tmp_path / "canonical")
    run_extraction_job(spark, inp, canonical, SNAPSHOT, num_partitions=4)
    shuffled = inp.select(
        "lang", "text", F.lit("extra").alias("extra"), "html", "warc_ts", "url"
    )
    reordered = str(tmp_path / "reordered")
    s = run_extraction_job(spark, shuffled, reordered, SNAPSHOT, num_partitions=4)
    assert s["docs_processed"] == N and s["integrity_ok"]
    assert _row_checksum(spark, reordered) == _row_checksum(spark, canonical)


def test_warc_ts_instant_survives_session_time_zone(spark, tmp_path):
    """Under a non-UTC session time zone the committed ``warc_ts`` is the
    same instant as the input's, not shifted by the zone offset."""
    src = str(tmp_path / "pages")
    # the generator's timestamps depend on the session zone: fix them
    # under UTC before the zone changes
    pages_df(spark, 40, partitions=2).write.parquet(src)
    out = str(tmp_path / "out")
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        inp = spark.read.parquet(src)
        s = run_extraction_job(spark, inp, out, SNAPSHOT, num_partitions=2)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert s["docs_processed"] == 40
    committed = read_committed(spark, out, "data").select(
        "url", F.unix_micros("warc_ts").alias("out_us")
    )
    source = spark.read.parquet(src).select(
        "url", F.unix_micros("warc_ts").alias("in_us")
    )
    joined = committed.join(source, "url")
    assert joined.count() == 40
    assert joined.filter(F.col("out_us") != F.col("in_us")).count() == 0
