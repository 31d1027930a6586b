"""Streaming near-dup ingest: first-seen-wins across micro-batches,
representative-only state, torn-batch replay idempotence."""

import os

from pyspark.sql import functions as F

from intelligent_ocr_spark.streaming.neardup import (
    neardup_batch_handler,
    stream_neardup_ingest,
)

BASE = "the quick brown fox jumps over the lazy dog near the river bank"
FRESH = "entirely fresh subject matter with no overlap whatsoever in vocabulary terms"
OTHER = "completely different text about query engines and shuffles here"


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, "url string, text string").coalesce(1).write.parquet(path)


def _run(spark, tmp_path, subdirs="b*"):
    stream = (
        spark.readStream.schema("url string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "in") + "/" + subdirs)
    )
    q = stream_neardup_ingest(
        stream,
        str(tmp_path / "state"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def test_stream_neardup_first_seen(spark, tmp_path):
    inp = tmp_path / "in"
    os.makedirs(inp)
    # batch 1: u1 kept; u2 is the known 0.83-jaccard edit of u1 -> dropped
    # within batch (u1 < u2 in id order)
    _write_batch(spark, str(inp / "b1"), [("u1", BASE), ("u2", BASE.replace("bank", "delta"))])
    # batch 2: re-crawl of u1 -> dropped via state; fresh doc kept
    _write_batch(spark, str(inp / "b2"), [("u3", BASE), ("u4", FRESH)])
    # batch 3: another edit of the SAME base -> dropped (matches u1's
    # registered buckets); unrelated doc kept
    _write_batch(spark, str(inp / "b3"), [("u5", BASE.replace("bank", "shore")), ("u6", OTHER)])

    _run(spark, tmp_path)
    kept = sorted(
        r["url"] for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    assert kept == ["u1", "u4", "u6"]

    # state holds buckets of KEPT docs only: 2 bands x 3 kept docs, distinct
    state = spark.read.parquet(str(tmp_path / "state"))
    assert state.count() <= 6
    assert state.select("band", "bucket").distinct().count() == state.count()


def test_stream_neardup_restart_resumes(spark, tmp_path):
    """Stop after two batches, add a third, restart on the same
    checkpoint: only the new file processes, prior verdicts hold."""
    inp = tmp_path / "in"
    os.makedirs(inp)
    _write_batch(spark, str(inp / "b1"), [("u1", BASE)])
    _write_batch(spark, str(inp / "b2"), [("u2", FRESH)])
    _run(spark, tmp_path)
    _write_batch(spark, str(inp / "b3"), [("u3", BASE.replace("bank", "delta")), ("u4", OTHER)])
    _run(spark, tmp_path)
    kept = sorted(
        r["url"] for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    assert kept == ["u1", "u2", "u4"]  # u3 dropped against restored state


def test_state_compaction_bounded_and_equivalent(spark, tmp_path):
    """Round-6 compaction: after many micro-batches the state listing is
    bounded ({consolidated base} + ≤ compact_every batch dirs) and the
    kept output is byte-identical to the uncompacted handler's, including
    across a replay of a compaction batch."""
    import os

    from intelligent_ocr_spark.streaming.neardup import _state_dirs

    n_batches = 100
    every = 8
    hc = neardup_batch_handler(
        str(tmp_path / "state_c"), str(tmp_path / "out_c"), compact_every=every
    )
    hu = neardup_batch_handler(
        str(tmp_path / "state_u"), str(tmp_path / "out_u"), compact_every=0
    )
    vocab = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu nu "
        "xi omicron pi rho sigma tau upsilon phi chi psi omega".split()
    )
    for b in range(n_batches):
        rows = []
        for j in range(2):
            i = 2 * b + j
            if i % 5 == 0:
                text = BASE.replace("bank", ["bank", "delta", "shore", "ridge", "cove"][i % 4])
            else:
                w = [vocab[(i * 7 + t) % len(vocab)] for t in range(8)]
                text = " ".join(w) + f" unique token run {i}"
            rows.append((f"u{i:04d}", text))
        bdf = spark.createDataFrame(rows, "url string, text string")
        hc(bdf, b)
        hu(bdf, b)
        if b == 3 * every:  # replay a compaction batch (torn-commit path)
            hc(bdf, b)

    base, batch_dirs = _state_dirs(str(tmp_path / "state_c"))
    assert base is not None
    assert len(batch_dirs) <= every  # bounded listing
    _, unbounded = _state_dirs(str(tmp_path / "state_u"))
    assert len(unbounded) > 90  # the layout this replaces really did grow

    kept_c = sorted(
        r["url"] for r in spark.read.parquet(str(tmp_path / "out_c")).collect()
    )
    kept_u = sorted(
        r["url"] for r in spark.read.parquet(str(tmp_path / "out_u")).collect()
    )
    assert kept_c == kept_u
    # the consolidated state SET matches the uncompacted one exactly
    set_c = {
        (r["band"], r["bucket"])
        for r in spark.read.parquet(
            *([base] + [p for _, p in batch_dirs])
        ).collect()
    }
    set_u = {
        (r["band"], r["bucket"])
        for r in spark.read.parquet(*[p for _, p in unbounded]).collect()
    }
    assert set_c == set_u


def test_torn_batch_replay_overwrites(spark, tmp_path):
    """Replaying a batch id (the restart path for an uncommitted batch)
    overwrites its out/state directories instead of double-appending."""
    handler = neardup_batch_handler(str(tmp_path / "state"), str(tmp_path / "out"))
    b0 = spark.createDataFrame([("u1", BASE), ("u2", FRESH)], "url string, text string")
    handler(b0, 0)
    out_once = spark.read.parquet(str(tmp_path / "out")).count()
    state_once = spark.read.parquet(str(tmp_path / "state")).count()
    handler(b0, 0)  # replay
    assert spark.read.parquet(str(tmp_path / "out")).count() == out_once == 2
    assert spark.read.parquet(str(tmp_path / "state")).count() == state_once

    # and a FOLLOW-UP batch still dedups against the replayed state
    b1 = spark.createDataFrame([("u3", BASE)], "url string, text string")
    handler(b1, 1)
    assert (
        spark.read.parquet(str(tmp_path / "out"))
        .filter(F.col("url") == "u3")
        .count()
        == 0
    )


def test_compaction_replay_keeps_complete_base(spark, tmp_path):
    """A compaction torn between its base write and its deletions: on
    replay the complete ``_base/v=<id>`` is left untouched (never read
    and overwritten in one write) and only the leftover fold dirs go."""
    from intelligent_ocr_spark.streaming.neardup import _maybe_compact

    state = tmp_path / "state"
    schema = "band int, bucket string"
    for bid in (0, 1):
        spark.createDataFrame([(0, f"b{bid}")], schema).write.parquet(
            str(state / f"batch={bid}")
        )
    base = state / "_base" / "v=2"
    spark.createDataFrame([(0, "b0"), (0, "b1")], schema).write.parquet(str(base))

    def snapshot():
        return sorted(
            (e.name, e.stat().st_size, e.stat().st_mtime_ns) for e in os.scandir(base)
        )

    before = snapshot()
    _maybe_compact(spark, str(state), 2, 2)
    assert snapshot() == before
    assert sorted(os.listdir(state)) == ["_base"]
    assert sorted(os.listdir(state / "_base")) == ["v=2"]
