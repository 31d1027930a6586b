"""Output checks on a job's committed data.

One aggregate over the committed view of an output gives the row count, the
distinct-url count, the per-class outcome counts and an order-independent
full-row checksum: the sum of a per-row hash over every data column, wide
enough that it cannot overflow. A duplicated row, a lost row or one changed
byte in any column changes it.

:func:`summarize_outputs` computes it in Spark, with ``xxhash64``, over
``read_committed(out, "data")``: the package's own exactly-once view, which
is what a reader of the job's output sees. One call checks any number of
outputs in one query.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from intelligent_ocr_spark.plans.checkpoint import read_committed

DATA_COLUMNS = (
    "url", "warc_ts", "lang", "extracted_text", "norm_text", "spans",
    "skipped", "is_blank", "error", "n_blocks", "n_dropped", "retries",
    "html_bytes",
)

#: error-tag prefixes of the quarantine classes (``operators/extract.py``)
QUARANTINE_REASONS = ("html_null", "html_decode", "parse_error", "pxpg_decode")

PINNED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pinned.json")


class CheckFailed(AssertionError):
    """An output check did not hold."""


def _url_index():
    return F.regexp_extract("url", r"page-(\d+)$", 1).cast("long")


def summarize_outputs(spark, out_dirs: list[str], prefix_n: int) -> list[dict]:
    """Counts and checksums of the committed data under each of ``out_dirs``,
    in one Spark job. ``prefix_checksum`` covers the rows with generator
    index < ``prefix_n``."""
    views = []
    for k, out_dir in enumerate(out_dirs):
        data = read_committed(spark, out_dir, "data")
        if data is None:
            raise CheckFailed(f"no committed data under {out_dir}")
        views.append(data.select(F.lit(k).alias("view"), *DATA_COLUMNS))
    union = views[0]
    for v in views[1:]:
        union = union.unionByName(v)
    h = F.xxhash64(*DATA_COLUMNS).cast("decimal(38,0)")
    err = F.col("error")
    rows = union.groupBy("view").agg(
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct("url").alias("urls"),
        F.sum(h).alias("checksum"),
        F.sum(F.when(_url_index() < prefix_n, h).otherwise(0)).alias("prefix_checksum"),
        F.sum(F.col("skipped").cast("int")).alias("skipped"),
        F.sum(F.col("is_blank").cast("int")).alias("blank"),
        *[F.sum(err.startswith(r).cast("int")).alias(r) for r in QUARANTINE_REASONS],
        F.sum(err.isNotNull().cast("int")).alias("errors"),
    ).collect()
    by_view = {r["view"]: r.asDict() for r in rows}
    out = []
    for k, out_dir in enumerate(out_dirs):
        got = by_view.get(k)
        if got is None:
            raise CheckFailed(f"no committed rows under {out_dir}")
        for key in ("checksum", "prefix_checksum"):
            got[key] = str(got[key])
        for key in QUARANTINE_REASONS:
            got[key] = got[key] or 0
        out.append(got)
    return out


def check_output(got: dict, n: int, expected: dict[str, int]) -> None:
    """Exactly-once and per-class counts of one committed output."""
    if got["rows"] != n or got["urls"] != n:
        raise CheckFailed(
            f"exactly-once: {got['rows']} rows, {got['urls']} distinct urls, "
            f"{n} input urls"
        )
    for k in ("blank", "skipped") + QUARANTINE_REASONS:
        if got[k] != expected.get(k, 0):
            raise CheckFailed(
                f"class count {k}: got {got[k]}, generator implies {expected.get(k, 0)}"
            )
    if got["errors"] != sum(expected.get(k, 0) for k in QUARANTINE_REASONS):
        raise CheckFailed(f"{got['errors']} quarantined rows, expected {expected}")


def load_pinned(path: str = PINNED_PATH) -> dict[str, str]:
    """Pinned checksums of the default seed, by ledger key."""
    with open(path) as f:
        return json.load(f)["checksums"]


class ChecksumLedger:
    """Checksums this checkout has seen, keyed by what they cover.

    The first value recorded under a key is the reference; a later run
    that produces another value for the same key fails. This is how the
    ``plain`` table's output is compared across ``local[1]`` and
    ``local[4]``, which run in separate processes: both record the
    checksum of the same row prefix under one key. Pinned values for the
    default seed are references from the start.
    """

    def __init__(self, path: str, pinned: dict[str, str]):
        self._path = path
        self._pinned = dict(pinned)

    def _load(self) -> dict[str, str]:
        try:
            with open(self._path) as f:
                return json.load(f)
        except (OSError, ValueError):
            return {}

    def check(self, key: str, value: str) -> None:
        seen = self._load()
        ref = self._pinned.get(key, seen.get(key))
        if ref is not None and ref != value:
            raise CheckFailed(f"checksum {key}: got {value}, reference {ref}")
        if key not in seen:
            seen[key] = value
            tmp = f"{self._path}.tmp-{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(seen, f, indent=1, sort_keys=True)
            os.replace(tmp, self._path)
