"""Differential tests: output must be invariant to partitioning/parallelism
(the realized version of the reference's skipped pipelined-vs-standard
equivalence test, tests/test_core.py:312-345)."""

from intelligent_ocr_spark.operators.extract import EXTRACT_SCHEMA, extract_pages
from intelligent_ocr_spark.plans.checkpoint import read_committed
from intelligent_ocr_spark.plans.pipeline import run_extraction_job
from intelligent_ocr_spark.sources.pages import image_pages_df, pages_df

N = 300


def _fingerprint(df):
    rows = df.select("url", "extracted_text", "norm_text", "skipped", "is_blank", "error").collect()
    return sorted((r["url"], r["extracted_text"], r["norm_text"], r["skipped"], r["is_blank"], r["error"]) for r in rows)


def test_output_invariant_to_partitioning(spark):
    one = _fingerprint(extract_pages(pages_df(spark, N, partitions=1)))
    many = _fingerprint(extract_pages(pages_df(spark, N, partitions=32)))
    assert one == many


def test_generator_invariant_to_partitioning(spark):
    a = sorted(r["url"] + "|" + str(r["html"]) for r in pages_df(spark, N, partitions=1).collect())
    b = sorted(r["url"] + "|" + str(r["html"]) for r in pages_df(spark, N, partitions=16).collect())
    assert a == b


def test_job_commits_what_extract_pages_returns(spark, tmp_path):
    """One kernel: the job's committed data equals ``extract_pages`` on all
    13 columns, over every outcome class — parsed, skipped, blank and
    quarantined html rows plus the pixel path's page images."""
    inp = pages_df(spark, 200, partitions=4).unionByName(image_pages_df(spark, 40, partitions=2))
    out = str(tmp_path / "out")
    run_extraction_job(spark, inp, out, 5, num_partitions=4)
    cols = [f.name for f in EXTRACT_SCHEMA.fields]
    committed = {r["url"]: r for r in read_committed(spark, out, "data").select(cols).collect()}
    expected = {r["url"]: r for r in extract_pages(inp).collect()}
    assert committed == expected
    rows = list(expected.values())
    assert any(r["skipped"] for r in rows)
    assert any(r["is_blank"] for r in rows)
    assert any(r["error"] is not None for r in rows)
    assert any(r["url"].startswith("img://") and r["n_blocks"] for r in rows)
