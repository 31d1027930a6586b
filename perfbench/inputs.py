"""Benchmark inputs: page tables generated from ``--seed`` and cached.

A table is ``(kind, seed, n)``: ``plain`` is the package's own page
generator (``sources/pages.py``), ``real`` the same rows after
:func:`perfbench.salt.salt_html`. Both are pure functions of
``(seed, row index)``, so a cached table is the table. Generation runs in
this process with pyarrow (no Spark), is written once per key under the work
directory, and is not part of any timed phase.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql.pandas.types import to_arrow_schema

from intelligent_ocr_spark.sources.pages import PAGES_SCHEMA, doc_class, gen_row

from perfbench.salt import salt_html

#: files per input table; fixed so the scan has the same task count on
#: every run
INPUT_FILES = 8

#: the Arrow form of the package's page schema, so Spark reads back exactly
#: ``PAGES_SCHEMA`` (``warc_ts`` a UTC timestamp, not a timestamp_ntz)
PAGES_PA_SCHEMA = to_arrow_schema(PAGES_SCHEMA)


def gen_rows(kind: str, seed: int, indices) -> list[dict]:
    rows = [gen_row(i, seed) for i in indices]
    if kind == "real":
        for i, r in zip(indices, rows):
            r["html"] = salt_html(r["html"], i, seed)
    elif kind != "plain":
        raise ValueError(f"unknown table kind {kind!r}")
    return rows


def table_path(work: str, kind: str, seed: int, n: int) -> str:
    """Directory of the cached ``(kind, seed, n)`` table, generated on first
    use. Written to a temp name and renamed, so a killed run leaves no
    half-written table behind under the final name."""
    final = os.path.join(work, "inputs", f"{kind}-s{seed}-n{n}")
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp-{uuid.uuid4().hex}"
    os.makedirs(tmp)
    try:
        step = -(-n // INPUT_FILES)
        for k, lo in enumerate(range(0, n, step)):
            rows = gen_rows(kind, seed, range(lo, min(n, lo + step)))
            pq.write_table(
                pa.Table.from_pylist(rows, schema=PAGES_PA_SCHEMA),
                os.path.join(tmp, f"part-{k:05d}.parquet"),
            )
        os.replace(tmp, final)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def expected_counts(n: int) -> dict[str, int]:
    """Per-class outcome counts the generator implies for rows ``0..n-1``
    (class table in ``sources/pages.py``): class 3 is blank, class 4 is
    skipped on its existing text, class 5 quarantines, alternating NULL html
    and an undecodable byte stream on ``i // 20``."""
    c = Counter()
    for i in range(n):
        cls = doc_class(i)
        if cls == 3:
            c["blank"] += 1
        elif cls == 4:
            c["skipped"] += 1
        elif cls == 5:
            c["html_null" if (i // 20) % 2 == 0 else "html_decode"] += 1
    return {k: c[k] for k in ("blank", "skipped", "html_null", "html_decode")}
