"""Common Crawl sidecar formats: WET (extracted text) and WAT (metadata).

Real CC consumers mostly do NOT read the WARC bodies: link-graph and
language-census pipelines read the **WAT** sidecars (one JSON metadata
record per capture — headers, link list, title) and text pipelines read
the **WET** sidecars (one ``conversion`` record per capture whose body
is the already-extracted plain text).  Both are ordinary ISO 28500
containers, so the split-parallel byte-range reader
(``warc.iter_split_records``) carries over unchanged — same gzip-member
resync, same straddling-record ownership, same >2 GB tolerance — and
only the record→row mapping differs (reference scope note: the
reference reads pre-decoded files, ``core/pdf_processor.py``; container
formats are this engine's crawl-facing extension, `sources/warc.py`).

The WAT payload is JSON: per the input-hint's no-per-row-Python rule the
reader emits the RAW payload string and link extraction happens
JVM-side (``from_json`` with an explicit schema + one ``explode``) — so
a 100-TB link-graph build parses JSON inside whole-stage codegen without
ever touching page bodies.
"""

from __future__ import annotations

import gzip
import json
from datetime import datetime
from typing import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from intelligent_ocr_spark.sources.warc import (
    _CRLF,
    _parse_warc_date,
    iter_split_records,
    plan_warc_splits,
)

__all__ = [
    "write_synthetic_wet",
    "write_synthetic_wat",
    "read_wet_text",
    "read_wat_payloads",
    "wat_links",
]


def _sidecar_record(
    wtype: str, url: str, ts: datetime, ctype: str, body: bytes
) -> bytes:
    return (
        b"WARC/1.0" + _CRLF
        + f"WARC-Type: {wtype}".encode() + _CRLF
        + f"WARC-Target-URI: {url}".encode() + _CRLF
        + f"WARC-Date: {ts.strftime('%Y-%m-%dT%H:%M:%SZ')}".encode() + _CRLF
        + f"Content-Type: {ctype}".encode() + _CRLF
        + f"Content-Length: {len(body)}".encode() + _CRLF
        + _CRLF + body + _CRLF + _CRLF
    )


def _write_container(path: str, records: Iterable[bytes]) -> None:
    as_gz = path.endswith(".gz")

    def member(b: bytes) -> bytes:
        return gzip.compress(b, mtime=0) if as_gz else b

    with open(path, "wb") as f:
        f.write(
            member(
                b"WARC/1.0" + _CRLF + b"WARC-Type: warcinfo" + _CRLF
                + b"Content-Length: 0" + _CRLF + _CRLF + _CRLF + _CRLF
            )
        )
        for rec in records:
            f.write(member(rec))


def write_synthetic_wet(path: str, rows: list[dict]) -> None:
    """rows (url, warc_ts, text) → a WET container: one ``conversion``
    record per row, UTF-8 plain-text body; ``.gz`` = member-per-record."""
    _write_container(
        path,
        (
            _sidecar_record(
                "conversion", r["url"], r["warc_ts"],
                "text/plain; charset=utf-8", r["text"].encode("utf-8"),
            )
            for r in rows
        ),
    )


def write_synthetic_wat(path: str, rows: list[dict]) -> None:
    """rows (url, warc_ts, links: list[str]) → a WAT container: one
    ``metadata`` record per row with Common Crawl's JSON envelope shape
    (Envelope → Payload-Metadata → HTTP-Response-Metadata →
    HTML-Metadata → Links)."""

    def payload(r: dict) -> bytes:
        return json.dumps(
            {
                "Envelope": {
                    "WARC-Header-Metadata": {
                        "WARC-Target-URI": r["url"],
                        "WARC-Date": r["warc_ts"].strftime("%Y-%m-%dT%H:%M:%SZ"),
                    },
                    "Payload-Metadata": {
                        "HTTP-Response-Metadata": {
                            "HTML-Metadata": {
                                "Links": [
                                    {"path": "A@/href", "url": h}
                                    for h in r.get("links", [])
                                ]
                            }
                        }
                    },
                }
            },
            sort_keys=True,
        ).encode("utf-8")

    _write_container(
        path,
        (
            _sidecar_record(
                "metadata", r["url"], r["warc_ts"], "application/json", payload(r)
            )
            for r in rows
        ),
    )


WET_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("text", T.StringType(), False),
    ]
)

WAT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("payload", T.StringType(), False),
    ]
)


def _read_sidecar(
    spark: SparkSession, path_glob: str, wtype: str, schema: T.StructType,
    split_size: int, to_row,
) -> DataFrame:
    splits = plan_warc_splits(spark, path_glob, split_size)
    cols = [f.name for f in schema.fields]

    def op(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path, start, end in zip(pdf["path"], pdf["start"], pdf["end"]):
                out: list[dict] = []
                for headers, body in iter_split_records(path, int(start), int(end)):
                    if headers.get("warc-type") != wtype:
                        continue
                    url = headers.get("warc-target-uri")
                    if not url:
                        continue
                    out.append(
                        to_row(
                            url,
                            _parse_warc_date(headers.get("warc-date", "")),
                            body,
                        )
                    )
                yield pd.DataFrame(out, columns=cols)

    return splits.mapInPandas(op, schema)


def read_wet_text(
    spark: SparkSession, path_glob: str, split_size: int = 128 << 20
) -> DataFrame:
    """WET containers → (url, warc_ts, text): the already-extracted
    plain-text tier, split-parallel. WET is UTF-8 by construction;
    damaged bytes surface as U+FFFD (counted downstream by
    ``text_mojibake_detect``'s n_fffd rather than dropped here)."""
    return _read_sidecar(
        spark, path_glob, "conversion", WET_SCHEMA, split_size,
        lambda url, ts, body: {
            "url": url, "warc_ts": ts,
            "text": body.decode("utf-8", errors="replace"),
        },
    )


def read_wat_payloads(
    spark: SparkSession, path_glob: str, split_size: int = 128 << 20
) -> DataFrame:
    """WAT containers → (url, warc_ts, payload): the raw JSON envelope
    per capture. JSON stays UNPARSED here — extraction belongs JVM-side
    (``wat_links``), keeping the Python boundary to record splitting."""
    return _read_sidecar(
        spark, path_glob, "metadata", WAT_SCHEMA, split_size,
        lambda url, ts, body: {
            "url": url, "warc_ts": ts,
            "payload": body.decode("utf-8", errors="replace"),
        },
    )


_WAT_LINKS_SCHEMA = T.StructType(
    [
        T.StructField(
            "Envelope",
            T.StructType(
                [
                    T.StructField(
                        "Payload-Metadata",
                        T.StructType(
                            [
                                T.StructField(
                                    "HTTP-Response-Metadata",
                                    T.StructType(
                                        [
                                            T.StructField(
                                                "HTML-Metadata",
                                                T.StructType(
                                                    [
                                                        T.StructField(
                                                            "Links",
                                                            T.ArrayType(
                                                                T.StructType(
                                                                    [
                                                                        T.StructField("path", T.StringType()),
                                                                        T.StructField("url", T.StringType()),
                                                                    ]
                                                                )
                                                            ),
                                                        )
                                                    ]
                                                ),
                                            )
                                        ]
                                    ),
                                )
                            ]
                        ),
                    )
                ]
            ),
        )
    ]
)


def wat_links(payloads: DataFrame) -> DataFrame:
    """(url, warc_ts, payload) → one row per out-link (src_url, href) —
    ``from_json`` with an explicit schema + one ``explode``, entirely
    JVM-side: the WAT route to a link graph never runs Python past the
    record splitter and never reads a page body."""
    links = (
        F.from_json(F.col("payload"), _WAT_LINKS_SCHEMA)
        .getField("Envelope")
        .getField("Payload-Metadata")
        .getField("HTTP-Response-Metadata")
        .getField("HTML-Metadata")
        .getField("Links")
    )
    return payloads.select(
        F.col("url").alias("src_url"),
        F.explode(links).alias("_l"),
    ).select("src_url", F.col("_l").getField("url").alias("href"))
