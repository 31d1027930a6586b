"""Checkpoint & lineage table protocol — resumable batch at partition grain.

Replaces the reference's per-input JSON checkpoint files
(``core/checkpoint.py:17-73``, atomic temp+``os.replace`` writes
``:126-197``) with two append-only tables committed atomically per
partition:

* ``_checkpoint``  (FIXTURES.md §3): one row per (url, status) — the
  anti-join side of resume (reference ``next_page``/set-union semantics,
  ``core/checkpoint.py:33-41``, consumed ``core/pdf_processor.py:1249-1253``);
* ``_lineage``     (FIXTURES.md §4): one row per partition commit —
  snapshot id, partition id, docs, bytes, errors (north_rule lineage).

Durability contract (matches observable reference behavior incl.
cancel-saves ``core/pdf_processor.py:1570-1583``): **no committed doc is
ever reprocessed; uncommitted docs redo.** Commit unit here is a partition,
not a page — per-row commits are untenable at 10^12-doc scale, and the
reference's own "fast temp save every 10 pages"
(``core/pdf_processor.py:1313-1314``) concedes the same batching.

Implementation detail: this sandbox image has no Iceberg runtime jar, so a
"table" is a directory of parquet files where each file is committed by
atomic ``os.replace`` from a temp name (single-filesystem atomicity — the
same primitive the reference relies on, ``core/checkpoint.py:151-170``).
File names are **deterministic functions of partition content**, so a Spark
task retry overwrites its own file idempotently instead of double-appending
(exactly-once per partition). On a real cluster, swap
:func:`commit_parquet_atomic` for an Iceberg ``writeTo(...).append()`` —
the snapshot commit gives the same idempotence via validation.

Commit metadata in the checkpoint footers (the parquet-dir twin of an
Iceberg snapshot summary): the job writes three schema key-value entries
into the footer of every checkpoint file it commits, in the same file and
so under the same atomic rename:

* ``ios.generation`` — ``"<input_snapshot_id>:<config_hash>"``;
* ``ios.distinct_urls`` — the file's distinct non-null url count;
* ``ios.null_url`` — ``"1"`` if the file committed a null url, else ``"0"``.

:func:`generation_census` lists the checkpoint directory and sums these
for one generation, reading only footers (a file written without the keys
is counted from its own columns instead). The sums are exact because of
one invariant: **within a generation, a non-null url is committed in one
checkpoint file only.** The url-hash repartition keeps every copy of a url
in one partition within a wave, and the resume anti-join excludes urls
already committed from every later wave. Null urls never match the
anti-join, so they are redone every wave and may sit in several files;
that is why they carry a flag, not a count. Only two jobs writing one
output directory at once can break the invariant.

The commit digest of a file is part of its name
(``part-<pid>-<16 hex>.parquet``), the same in ``data/``, ``lineage/`` and
``checkpoint/``; the committed digest set is read from the checkpoint
file names, never from their rows.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import uuid
from typing import NamedTuple

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "config_hash",
    "generation_id",
    "committed_digests",
    "read_committed",
    "commit_parquet_atomic",
    "content_digest",
    "checkpoint_footer",
    "generation_census",
    "lineage_docs",
    "read_table_dir",
    "completed_urls",
    "CHECKPOINT_PA_SCHEMA",
    "LINEAGE_PA_SCHEMA",
]

FOOTER_GENERATION = b"ios.generation"
FOOTER_DISTINCT_URLS = b"ios.distinct_urls"
FOOTER_NULL_URL = b"ios.null_url"

# part-<pid>-<digest>.parquet: the name is a file's only link to its commit
_DIGEST_NAME = re.compile(r"-([0-9a-f]{16})\.parquet$")

CHECKPOINT_PA_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("partition_id", pa.int32()),
        ("status", pa.string()),  # completed / skipped / failed
        ("input_snapshot_id", pa.int64()),
        ("config_hash", pa.string()),
        ("commit_digest", pa.string()),  # links the data/lineage files
        ("updated_at", pa.timestamp("us", tz="UTC")),
    ]
)

# SCHEMA EVOLUTION NOTE (round-4 advisor): `n_errors` was ADDED to this
# schema mid-project, so an output directory resumed across versions can
# hold mixed-schema lineage parquet. The in-run path is unaffected
# (run_extraction_job aggregates only the current run's rows); EXTERNAL
# readers of lineage/ must read with schema merging — e.g. DuckDB
# `read_parquet(..., union_by_name=true)` or Spark
# `.option("mergeSchema", "true")` — so pre-change files surface
# `n_errors` as NULL instead of erroring.
LINEAGE_PA_SCHEMA = pa.schema(
    [
        ("commit_digest", pa.string()),
        ("input_snapshot_id", pa.int64()),
        ("partition_id", pa.int32()),
        ("docs", pa.int64()),
        ("bytes", pa.int64()),
        ("errors", pa.list_(pa.string())),  # bounded sample (first N sorted)
        ("n_errors", pa.int64()),  # exact quarantine count (errors is a sample)
        ("skipped", pa.int64()),
        ("blank", pa.int64()),
        ("fallback", pa.int64()),
        ("retry_stats", pa.map_(pa.int32(), pa.int32())),
        ("started_at", pa.timestamp("us", tz="UTC")),
        ("ended_at", pa.timestamp("us", tz="UTC")),
    ]
)


def config_hash(config: dict) -> str:
    """Settings fingerprint — resume is only valid under identical settings
    (reference settings-match validation ``core/pdf_processor.py:1087-1100``,
    dpi/page-count checks; hash check ``core/checkpoint.py:221-224``)."""
    blob = json.dumps(config, sort_keys=True, default=str).encode()
    return hashlib.md5(blob).hexdigest()[:16]


def generation_id(input_snapshot_id: int, cfg_hash: str) -> str:
    """The generation ``(input_snapshot_id, config_hash)`` as one string."""
    return f"{input_snapshot_id}:{cfg_hash}"


def content_digest(urls: list[str | None], generation: str = "") -> str:
    """Deterministic digest of a partition's url set, salted with the
    generation identity ``(snapshot, config)`` → idempotent file name
    across task retries, unique across resume waves AND across
    generations: without the salt, rerunning the same input under a
    different config produces identical url sets per partition and would
    silently os.replace the previous generation's committed files.
    A null url sorts first and hashes as ``0xff``, a byte no UTF-8 url
    contains."""
    h = hashlib.md5()
    h.update(generation.encode())
    h.update(b"\x00")
    for u in sorted(urls, key=lambda u: (u is not None, u or "")):
        h.update(b"\xff" if u is None else u.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def checkpoint_footer(urls: list[str | None], generation: str) -> dict[bytes, bytes]:
    """The footer entries of a checkpoint file committing ``urls`` under
    ``generation`` (see the module docstring)."""
    distinct = set(urls)
    has_null = None in distinct
    return {
        FOOTER_GENERATION: generation.encode(),
        FOOTER_DISTINCT_URLS: str(len(distinct) - has_null).encode(),
        FOOTER_NULL_URL: b"1" if has_null else b"0",
    }


def commit_parquet_atomic(table: pa.Table, directory: str, name: str) -> str:
    """Write ``name.parquet`` into ``directory`` via temp + atomic replace.

    The write itself can die half-done; the replace cannot — readers never
    observe a torn file (reference's antivirus-hardened atomic save,
    ``core/checkpoint.py:151-170``).
    """
    os.makedirs(directory, exist_ok=True)
    final = os.path.join(directory, f"{name}.parquet")
    tmp = os.path.join(directory, f".tmp-{uuid.uuid4().hex}")
    pq.write_table(table, tmp)
    os.replace(tmp, final)
    return final


def _digest_files(directory: str) -> list[tuple[str, str]]:
    """(commit digest, path) of each committed-name parquet file in
    ``directory``, in name order; temp files are skipped. A misnamed file
    raises: it would otherwise silently drop out of the committed view."""
    if not os.path.isdir(directory):
        return []
    found, bad = [], []
    for f in sorted(os.listdir(directory)):
        if f.startswith(".") or not f.endswith(".parquet"):
            continue
        m = _DIGEST_NAME.search(f)
        if m is None:
            bad.append(f)
        else:
            found.append((m.group(1), os.path.join(directory, f)))
    if bad:
        raise ValueError(
            f"{len(bad)} file(s) in {directory} carry no commit digest in their "
            f"name (contract: part-<pid>-<16 hex>.parquet) and would silently "
            f"drop from the committed view: {bad[:5]}"
        )
    return found


def committed_digests(checkpoint_dir: str) -> set[str]:
    """Digests of partitions whose CHECKPOINT rename (the single commit
    point) completed, from the checkpoint file names. Data/lineage files
    are renamed first; a crash between the renames leaves orphan files
    whose digest no checkpoint file carries."""
    return {digest for digest, _ in _digest_files(checkpoint_dir)}


def read_committed(spark: SparkSession, out_dir: str, sub: str) -> DataFrame | None:
    """Read ``out_dir/{sub}`` restricted to committed partitions — the
    exactly-once read view. Orphans from a crash between renames (data
    present, checkpoint absent) are excluded, so a resumed job's re-emission
    of those urls cannot surface duplicates."""
    directory = os.path.join(out_dir, sub)
    table = read_table_dir(spark, directory)
    if table is None:
        return None
    if "commit_digest" not in table.columns:
        # Data files carry the digest in their NAME (part-{pid}-{digest}),
        # not as a column — the streamed writer can't know the digest until
        # the partition's last batch. _digest_files fails on a misnamed
        # file, for which regexp_extract would return '' and drop its rows.
        _digest_files(directory)
        table = table.withColumn(
            "commit_digest",
            F.regexp_extract(F.input_file_name(), _DIGEST_NAME.pattern, 1),
        )
    digests = committed_digests(os.path.join(out_dir, "checkpoint"))
    if not digests:
        return None  # zero committed partitions — same signal as no data
    return table.filter(F.col("commit_digest").isin(sorted(digests)))


def read_table_dir(spark: SparkSession, directory: str) -> DataFrame | None:
    """Read a parquet table directory; None if absent/empty."""
    if not os.path.isdir(directory):
        return None
    if not any(f.endswith(".parquet") for f in os.listdir(directory)):
        return None
    return spark.read.parquet(directory)


def completed_urls(
    spark: SparkSession,
    checkpoint_dir: str,
    input_snapshot_id: int,
    cfg_hash: str,
) -> DataFrame | None:
    """Urls already committed under the SAME snapshot and settings.

    Mismatched snapshot/config rows simply don't qualify — the Spark twin of
    checkpoint invalidation-by-deletion (``core/checkpoint.py:199-238``).
    The read names its columns, so Spark infers no schema (inference runs a
    Spark job over the files' footers).
    """
    if not _digest_files(checkpoint_dir):
        return None
    ckpt = spark.read.schema(
        "url string, input_snapshot_id bigint, config_hash string"
    ).parquet(checkpoint_dir)
    return ckpt.filter(
        (F.col("input_snapshot_id") == F.lit(input_snapshot_id))
        & (F.col("config_hash") == F.lit(cfg_hash))
    ).select("url")


class GenerationCensus(NamedTuple):
    """What one generation has committed, summed over its checkpoint files."""

    rows: int  # checkpoint rows
    urls: int  # distinct urls, a null url counted once
    digests: frozenset[str]  # commit digests of the generation's files


def generation_census(
    checkpoint_dir: str, input_snapshot_id: int, cfg_hash: str
) -> GenerationCensus:
    """Sum the footers of the checkpoint files of one generation — no Spark
    action, one footer read per file. A file without the footer keys is
    counted from its own ``url``/generation columns. The distinct-url sum
    is exact by the one-file-per-url invariant (module docstring)."""
    generation = generation_id(input_snapshot_id, cfg_hash)
    rows = urls = 0
    has_null = False
    digests = set()
    for digest, path in _digest_files(checkpoint_dir):
        meta = pq.read_metadata(path)
        kv = meta.metadata or {}
        if FOOTER_GENERATION in kv:
            if kv[FOOTER_GENERATION] != generation.encode():
                continue
            file_rows = meta.num_rows
            file_urls = int(kv[FOOTER_DISTINCT_URLS])
            file_null = kv[FOOTER_NULL_URL] == b"1"
        else:
            t = pq.read_table(path, columns=["url", "input_snapshot_id", "config_hash"])
            t = t.filter(
                pc.and_(
                    pc.equal(t.column("input_snapshot_id"), input_snapshot_id),
                    pc.equal(t.column("config_hash"), cfg_hash),
                )
            )
            if not t.num_rows:
                continue
            url = t.column("url")
            file_rows = t.num_rows
            file_urls = pc.count_distinct(url, mode="only_valid").as_py()
            file_null = url.null_count > 0
        rows += file_rows
        urls += file_urls
        has_null |= file_null
        digests.add(digest)
    return GenerationCensus(rows, urls + has_null, frozenset(digests))


def lineage_docs(lineage_dir: str, digests: frozenset[str]) -> int:
    """Sum of ``docs`` over the lineage files whose names carry one of
    ``digests`` — one row per file, read with pyarrow."""
    return sum(
        pc.sum(pq.read_table(path, columns=["docs"]).column("docs")).as_py() or 0
        for digest, path in _digest_files(lineage_dir)
        if digest in digests
    )
