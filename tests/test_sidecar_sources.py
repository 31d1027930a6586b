"""WET/WAT sidecar sources: exactly-once across split sizes, gz and
plain containers, and a known-answer check of the WAT link reader."""

import datetime as dt

import pytest

from intelligent_ocr_spark.sources.sidecar import (
    read_wat_payloads,
    read_wet_text,
    wat_links,
    write_synthetic_wat,
    write_synthetic_wet,
)

TS = dt.datetime(2024, 1, 1)


def _wet_rows(n=40):
    return [
        {
            "url": f"http://h{i % 7}.example/d/{i}",
            "warc_ts": TS,
            "text": f"doc {i}\n" + ("extracted text 中文 " * (1 + i % 5)).strip(),
        }
        for i in range(n)
    ]


def _wat_rows(n=40):
    return [
        {
            "url": f"http://h{i % 7}.example/d/{i}",
            "warc_ts": TS,
            "links": [
                f"http://h{(i * 7 + 3) % 40}.example/p/{i}",
                f"https://h{(i * 11 + 5) % 40}.example:81/q?x={i}#f",
            ]
            + ([f"http://extra.example/{i}"] if i % 3 == 0 else []),
        }
        for i in range(n)
    ]


@pytest.mark.parametrize("ext", ["wet", "wet.gz"])
def test_wet_exactly_once_across_splits(spark, tmp_path, ext):
    rows = _wet_rows()
    p = str(tmp_path / f"f.{ext}")
    write_synthetic_wet(p, rows)
    want = sorted((r["url"], r["text"]) for r in rows)
    import os

    for split in (64, 997, 1 << 20):
        got = sorted(
            (r["url"], r["text"])
            for r in read_wet_text(spark, p, split_size=split).collect()
        )
        assert got == want, f"split={split}"
    assert os.path.getsize(p) > 3 * 64  # the 64-byte sweep really splits


def test_wat_links_known_answer(spark, tmp_path):
    """Every link written into a WAT envelope comes back as one
    (src_url, href) edge, across 512-byte splits of a gzip container."""
    rows = _wat_rows()
    p = str(tmp_path / "f.wat.gz")
    write_synthetic_wat(p, rows)

    want = sorted((r["url"], h) for r in rows for h in r["links"])
    got = sorted(
        (r["src_url"], r["href"])
        for r in wat_links(read_wat_payloads(spark, p, split_size=512)).collect()
    )
    assert got == want
    assert len(got) == sum(len(r["links"]) for r in rows)


def test_wat_json_parse_is_jvm_side(spark, tmp_path):
    """Past the record splitter, link extraction is from_json+explode —
    no further Python boundary in the plan."""
    rows = _wat_rows(8)
    p = str(tmp_path / "f.wat")
    write_synthetic_wat(p, rows)
    payloads = read_wat_payloads(spark, p)
    plan = (
        wat_links(payloads)._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("MapInPandas") == 1  # the splitter, nothing else
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "from_json" in plan or "Generate" in plan


def test_wet_damaged_bytes_surface_not_drop(spark, tmp_path):
    """A WET body with invalid UTF-8 keeps its row (U+FFFD), matching
    the documented error direction."""
    import gzip

    from intelligent_ocr_spark.sources.sidecar import _sidecar_record

    rec = _sidecar_record(
        "conversion", "http://h0.example/bad", TS,
        "text/plain; charset=utf-8", b"ok \xff\xfe tail",
    )
    p = str(tmp_path / "f.wet.gz")
    with open(p, "wb") as f:
        f.write(gzip.compress(rec, mtime=0))
    (row,) = read_wet_text(spark, p).collect()
    assert row["url"] == "http://h0.example/bad"
    assert "�" in row["text"] and row["text"].startswith("ok ")


def test_wat_malformed_json_drops_links_not_rows(spark, tmp_path):
    """A corrupt WAT payload yields NULL from from_json -> zero link
    rows for that capture (explode drops NULL arrays); well-formed
    records in the same container are unaffected, and the payload
    surface still carries the bad row for auditing."""
    import gzip

    from intelligent_ocr_spark.sources.sidecar import _sidecar_record

    good = _wat_rows(2)
    p = str(tmp_path / "f.wat.gz")
    write_synthetic_wat(str(tmp_path / "tmp.wat"), good)  # reuse writer for good rows
    with open(str(tmp_path / "tmp.wat"), "rb") as f:
        payload = f.read()
    bad = _sidecar_record(
        "metadata", "http://h9.example/bad", TS, "application/json",
        b'{"Envelope": {"Payload-Metadata": NOT-JSON',
    )
    with open(p, "wb") as f:
        f.write(gzip.compress(payload + bad, mtime=0))

    payloads = read_wat_payloads(spark, p)
    assert payloads.count() == 3  # bad row still auditable upstream
    links = wat_links(payloads).collect()
    assert sorted({r["src_url"] for r in links}) == sorted(
        r["url"] for r in good
    )
    assert len(links) == sum(len(r["links"]) for r in good)


def test_source_sidecar_tiers_query(spark):
    """The registered rows-only query joins the WET text tier with WAT
    link counts per capture: 90 rows, i%4 out-links each, UTF-8 CJK text
    surviving the container round-trip."""
    from __spark_entry__ import queries

    rows = queries()["source_sidecar_tiers"](spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 90
    by = {r["url"]: r for r in rows}
    assert by["https://wet.example/p0"]["n_links"] == 0
    assert by["https://wet.example/p3"]["n_links"] == 3
    assert by["https://wet.example/p0"]["n_chars"] > 0
