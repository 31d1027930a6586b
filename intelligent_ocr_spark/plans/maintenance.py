"""Checkpoint-table maintenance + retry/degradation driver loop.

Covers the reference's job-control reliability surface:

* **R2 task-level retry ladder** (``_build_attempt_profile``
  ``desktop/workers.py:290-307``): failed urls are re-run under
  progressively degraded extraction profiles; each attempt commits under
  its own config_hash so resume stays sound per attempt.
* **R3 error classification** (``_classify_error`` ``desktop/workers.py:
  241-288``): error strings are routed retryable / non-retryable; only
  retryable ones enter the ladder.
* **A2 progress view** (``core/checkpoint.py:49-54``), **C5 incomplete
  listing** (``:263-275``), **C4 stale cleanup** (``:287-323``) as queries
  and a file-retention helper over the checkpoint table.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from intelligent_ocr_spark.plans.checkpoint import committed_digests, read_committed, read_table_dir
from intelligent_ocr_spark.plans.pipeline import run_extraction_job

__all__ = [
    "classify_error",
    "remove_orphan_files",
    "progress",
    "incomplete_urls",
    "expire_stale_generations",
    "rerun_failed_with_ladder",
    "recovered_view",
]

# R3 token tables (reference desktop/workers.py:241-288). Classification by
# substring match, NON-retryable checked first (same precedence as reference).
_NON_RETRYABLE_TOKENS = (
    "html_null", "html_decode", "pxpg_decode", "permission", "corrupt", "encrypted",
)
_RETRYABLE_TOKENS = ("parse_error", "timeout", "memory", "connection")


def classify_error(err) -> "F.Column":
    """error string → 'none' | 'non_retryable' | 'retryable' (column expr)."""
    col = err if not isinstance(err, str) else F.col(err)
    lowered = F.lower(F.coalesce(col, F.lit("")))
    non_retry = F.lit(False)
    for tok in _NON_RETRYABLE_TOKENS:
        non_retry = non_retry | lowered.contains(tok)
    retry = F.lit(False)
    for tok in _RETRYABLE_TOKENS:
        retry = retry | lowered.contains(tok)
    return (
        F.when(col.isNull(), F.lit("none"))
        .when(non_retry, F.lit("non_retryable"))
        .when(retry, F.lit("retryable"))
        .otherwise(F.lit("retryable"))  # unknown errors default to retryable
    )


def progress(spark: SparkSession, out_dir: str) -> DataFrame:
    """A2 progress rollup over the checkpoint table: done/total percent per
    (snapshot, config)."""
    ckpt = read_table_dir(spark, os.path.join(out_dir, "checkpoint"))
    if ckpt is None:
        raise FileNotFoundError(f"no checkpoint under {out_dir}")
    return ckpt.groupBy("input_snapshot_id", "config_hash").agg(
        F.countDistinct("url").alias("done"),
        F.sum(F.when(F.col("status") == "failed", 1).otherwise(0)).alias("failed"),
        F.sum(F.when(F.col("status") == "skipped", 1).otherwise(0)).alias("skipped"),
        F.max("updated_at").alias("last_update"),
    )


def incomplete_urls(
    spark: SparkSession, out_dir: str, input_df: DataFrame,
    input_snapshot_id: int, cfg_hash: str,
) -> DataFrame:
    """C5: urls of the input not yet committed under (snapshot, config)."""
    ckpt = read_table_dir(spark, os.path.join(out_dir, "checkpoint"))
    if ckpt is None:
        return input_df.select("url")
    done = ckpt.filter(
        (F.col("input_snapshot_id") == input_snapshot_id)
        & (F.col("config_hash") == cfg_hash)
    ).select("url")
    return input_df.select("url").join(done, "url", "left_anti")


def expire_stale_generations(
    spark: SparkSession,
    out_dir: str,
    keep: set[tuple[int, str]] = frozenset(),
    max_age_hours: float = 24.0,
) -> list[str]:
    """C4 retention, reconciled with the commit protocol: checkpoint rows
    are the COMMIT RECORD that gates data visibility, so expiry must
    retire whole GENERATIONS ``(input_snapshot_id, config_hash)`` — their
    checkpoint, data, and lineage files together — never checkpoint files
    alone (that would orphan live committed data and let the janitor
    delete it). The parquet-dir analog of Iceberg ``expire_snapshots``.

    A generation is expired iff it is not in ``keep`` AND its newest
    checkpoint row is older than the window. Checkpoint files are deleted
    FIRST (the generation's data becomes invisible to ``read_committed``),
    then data/lineage files — concurrent readers see a consistent
    committed view throughout.
    """
    ckpt_dir = os.path.join(out_dir, "checkpoint")
    ckpt = read_table_dir(spark, ckpt_dir)
    if ckpt is None:
        return []
    cutoff_ms = (time.time() - max_age_hours * 3600) * 1000
    gens = ckpt.groupBy("input_snapshot_id", "config_hash").agg(
        F.max("updated_at").alias("newest"),
        F.collect_set("commit_digest").alias("digests"),
    ).collect()
    expired_digests: set[str] = set()
    for g in gens:
        key = (g["input_snapshot_id"], g["config_hash"])
        if key in keep:
            continue
        if g["newest"].timestamp() * 1000 < cutoff_ms:
            expired_digests.update(g["digests"])
    removed: list[str] = []
    for sub in ("checkpoint", "data", "lineage"):  # checkpoint FIRST
        d = os.path.join(out_dir, sub)
        if not os.path.isdir(d):
            continue
        for fname in sorted(os.listdir(d)):
            if not fname.endswith(".parquet"):
                continue
            digest = fname.rsplit("-", 1)[-1].removesuffix(".parquet")
            if digest in expired_digests:
                path = os.path.join(d, fname)
                os.remove(path)
                removed.append(path)
    return removed


def remove_orphan_files(
    spark: SparkSession, out_dir: str, tmp_grace_seconds: float = 3600.0
) -> list[str]:
    """Janitor for torn commits: delete data/lineage files whose
    commit digest no checkpoint file name carries (the crash window
    between the data/lineage renames and the checkpoint rename). Run only
    while no job is writing to ``out_dir`` — an in-flight partition between
    its renames looks identical to an orphan.

    ``.tmp-*`` files are additionally protected by ``tmp_grace_seconds``
    (default 1 h): only temps whose mtime is older than the grace window
    are swept, so a janitor started against the docstring's precondition
    while a streamed commit is in flight cannot delete a LIVE temp parquet
    and fail that partition — a temp still being row-group-appended has a
    fresh mtime. Pass 0 to force-sweep everything (offline cleanup)."""
    now = time.time()
    committed = committed_digests(os.path.join(out_dir, "checkpoint"))
    removed: list[str] = []
    for sub in ("data", "lineage"):
        d = os.path.join(out_dir, sub)
        if not os.path.isdir(d):
            continue
        for fname in sorted(os.listdir(d)):
            # .tmp-* = a streamed write whose task died before rename (a
            # SIGKILL skips the in-task cleanup); invisible to readers but
            # it holds disk — sweep it once it has aged past the grace
            # window (a live temp is still being appended → fresh mtime)
            if fname.startswith(".tmp-"):
                path = os.path.join(d, fname)
                try:
                    age = now - os.path.getmtime(path)
                except OSError:
                    continue  # renamed/removed concurrently — not ours
                if age >= tmp_grace_seconds:
                    os.remove(path)
                    removed.append(path)
                continue
            if not fname.endswith(".parquet"):
                continue
            digest = fname.rsplit("-", 1)[-1].removesuffix(".parquet")
            if digest not in committed:
                path = os.path.join(d, fname)
                os.remove(path)
                removed.append(path)
    return removed


# R2 ladder (reference attempt profiles: 0 = original params, then
# progressively degraded). Expressed as extraction-parameter overrides.
DEFAULT_LADDER = (
    {"min_confidence": 0.5, "existing_text_min_chars": 50, "retry_limit": 2},
    {"min_confidence": 0.5, "existing_text_min_chars": 10, "retry_limit": 2},
    {"min_confidence": 0.3, "existing_text_min_chars": 5, "retry_limit": 4},
)


def rerun_failed_with_ladder(
    spark: SparkSession,
    input_df: DataFrame,
    out_dir: str,
    input_snapshot_id: int,
    ladder: tuple[dict, ...] = DEFAULT_LADDER,
    num_partitions: int | None = None,
) -> list[dict]:
    """R2/R3 driver loop: attempt 0 runs everything; each later attempt
    re-runs ONLY the urls still failed-and-retryable under a degraded
    profile, committing into ``out_dir/attempt-N``. Returns per-attempt
    summaries. Non-retryable urls stop re-attempting immediately.
    """
    summaries: list[dict] = []
    todo = input_df
    for i, profile in enumerate(ladder):
        attempt_dir = os.path.join(out_dir, f"attempt-{i}")
        if todo.isEmpty():
            break
        s = run_extraction_job(
            spark, todo, attempt_dir, input_snapshot_id,
            num_partitions=num_partitions, **profile,
        )
        s["attempt"] = i
        summaries.append(s)
        if i + 1 >= len(ladder):
            break
        data = read_committed(spark, attempt_dir, "data")
        failed = data.filter(F.col("error").isNotNull()).withColumn(
            "err_class", classify_error(F.col("error"))
        )
        # re-attempt a failed url iff the error is retryable OR a laxer
        # profile could rescue it (degradable: the row carries fallback
        # text that a lower existing_text_min_chars would accept — the
        # point of the reference's degradation ladder)
        next_profile = ladder[i + 1]
        degradable = input_df.select(
            "url", F.length(F.trim(F.coalesce(F.col("text"), F.lit("")))).alias("_tl")
        ).filter(F.col("_tl") > next_profile.get("existing_text_min_chars", 0))
        retry_urls = (
            failed.filter(F.col("err_class") == "retryable").select("url")
            .unionByName(failed.select("url").join(degradable, "url", "left_semi"))
            .distinct()
        )
        todo = input_df.join(retry_urls, "url", "left_semi")
    return summaries


def recovered_view(spark: SparkSession, out_dir: str, n_attempts: int) -> DataFrame:
    """Final output across the ladder: for each url, the result from the
    LAST attempt that produced it without error; falls back to the earliest
    errored row if every attempt failed. Pure window-over-union."""
    from pyspark.sql import Window as W

    parts = []
    for i in range(n_attempts):
        data = read_committed(spark, os.path.join(out_dir, f"attempt-{i}"), "data")
        if data is not None:
            parts.append(data.withColumn("attempt", F.lit(i)))
    if not parts:
        raise FileNotFoundError(f"no attempt data under {out_dir}")
    allrows = parts[0]
    for p in parts[1:]:
        allrows = allrows.unionByName(p)
    w = W.partitionBy("url").orderBy(
        F.col("error").isNotNull().cast("int"),  # successes first
        # among successes: latest (most-recovered) attempt wins; among
        # all-failed urls: EARLIEST attempt wins, so the surfaced error is
        # the original profile's, not the most-degraded retry's
        F.when(F.col("error").isNull(), -F.col("attempt")).otherwise(F.col("attempt")),
    )
    return (
        allrows.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
