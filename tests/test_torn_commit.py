"""Torn-commit durability: a crash BETWEEN the data rename and the
checkpoint rename must not surface duplicate documents after resume —
the checkpoint rename is the single commit point and readers only see
committed digests."""

import os

import pytest

from pyspark.sql import functions as F

from intelligent_ocr_spark.plans.checkpoint import read_committed, read_table_dir
from intelligent_ocr_spark.plans.maintenance import remove_orphan_files
from intelligent_ocr_spark.plans.pipeline import make_partition_kill_hook, run_extraction_job
from intelligent_ocr_spark.sources.pages import pages_df

N = 120
SNAPSHOT = 31


def test_crash_between_renames_no_duplicates(spark, tmp_path):
    out = str(tmp_path / "out")
    inp = pages_df(spark, N, partitions=4)

    # crash partitions 1 and 2 AFTER their data+lineage renames but BEFORE
    # their checkpoint renames (the torn-commit window)
    with pytest.raises(Exception):
        run_extraction_job(
            spark, inp, out, SNAPSHOT, num_partitions=6,
            _crash_between_renames=make_partition_kill_hook({1, 2}),
        )

    import time
    for _ in range(40):  # let surviving sibling tasks settle (same race as kill test)
        before = len(os.listdir(os.path.join(out, "data")))
        time.sleep(0.5)
        if len(os.listdir(os.path.join(out, "data"))) == before:
            break

    raw_before = read_table_dir(spark, os.path.join(out, "data"))
    orphan_urls = raw_before.count()
    committed_before = read_committed(spark, out, "data")
    n_committed = committed_before.count() if committed_before is not None else 0
    assert orphan_urls > n_committed  # torn files exist on disk...
    # ...but the committed view never shows them
    if committed_before is not None:
        assert committed_before.select("url").distinct().count() == n_committed

    # resume WITH THE SAME partitioning first: content-digest file names make
    # the rewrite idempotent (same url set → same digest → same file), so
    # this heals in place — worth pinning as behavior
    # (a DIFFERENT partitioning below is the case that creates duplicates)
    s = run_extraction_job(spark, inp, out, SNAPSHOT, num_partitions=5)
    assert s["integrity_ok"]
    raw = read_table_dir(spark, os.path.join(out, "data"))
    assert raw.count() > N  # duplicates present in raw storage
    dup_urls = (
        raw.groupBy("url").count().filter(F.col("count") > 1).count()
    )
    assert dup_urls > 0

    # ...while the committed view is exactly-once
    committed = read_committed(spark, out, "data")
    assert committed.count() == N
    assert committed.select("url").distinct().count() == N

    # janitor removes the orphan files; raw view becomes clean too
    removed = remove_orphan_files(spark, out)
    assert removed
    raw_clean = read_table_dir(spark, os.path.join(out, "data"))
    assert raw_clean.count() == N

    # committed lineage likewise excludes torn lineage rows
    lin = read_committed(spark, out, "lineage")
    assert sum(r["docs"] for r in lin.collect()) == N


def test_tmp_sweep_respects_grace_window(spark, tmp_path):
    """A FRESH .tmp-* (a streamed commit possibly in flight) survives the
    janitor; one older than the grace window is swept. Protects a live
    temp parquet from a janitor run that violated the no-writer
    precondition."""
    import time

    out = str(tmp_path / "out")
    for sub in ("data", "checkpoint"):
        os.makedirs(os.path.join(out, sub), exist_ok=True)
    fresh = os.path.join(out, "data", ".tmp-fresh.parquet")
    stale = os.path.join(out, "data", ".tmp-stale.parquet")
    for p in (fresh, stale):
        with open(p, "wb") as f:
            f.write(b"x")
    old = time.time() - 7200
    os.utime(stale, (old, old))

    removed = remove_orphan_files(spark, out)  # default 1 h grace
    assert stale in removed and fresh not in removed
    assert os.path.exists(fresh) and not os.path.exists(stale)

    # grace 0 = offline force-sweep
    removed2 = remove_orphan_files(spark, out, tmp_grace_seconds=0)
    assert fresh in removed2 and not os.path.exists(fresh)


def test_misnamed_data_file_fails_loudly(spark, tmp_path):
    """A parquet file in data/ without the part-<pid>-<digest> name would
    silently disappear from the committed view (its derived digest is '');
    the read must raise instead — the name is the only commit link."""
    import pytest

    from intelligent_ocr_spark.plans.checkpoint import read_committed

    out = str(tmp_path / "out")
    run_extraction_job(spark, pages_df(spark, 40, partitions=2), out, SNAPSHOT, num_partitions=2)
    # simulate a hand-copied / renamed file landing in the data dir
    files = [f for f in os.listdir(os.path.join(out, "data")) if f.endswith(".parquet")]
    src = os.path.join(out, "data", files[0])
    rogue = os.path.join(out, "data", "restored-backup.parquet")
    import shutil

    shutil.copy(src, rogue)
    with pytest.raises(ValueError, match="commit digest"):
        read_committed(spark, out, "data").count()
    os.remove(rogue)
    assert read_committed(spark, out, "data").count() == 40


def test_misnamed_checkpoint_file_fails_loudly(spark, tmp_path):
    """The committed digest set comes from the checkpoint file names, so a
    checkpoint file without the part-<pid>-<digest> name must raise, in the
    committed view and in the job's gate, rather than drop its commit."""
    import shutil

    out = str(tmp_path / "out")
    inp = pages_df(spark, 40, partitions=2)
    run_extraction_job(spark, inp, out, SNAPSHOT, num_partitions=2)
    ckpt_dir = os.path.join(out, "checkpoint")
    src = os.path.join(ckpt_dir, sorted(os.listdir(ckpt_dir))[0])
    rogue = os.path.join(ckpt_dir, "restored-backup.parquet")
    shutil.copy(src, rogue)
    with pytest.raises(ValueError, match="commit digest"):
        read_committed(spark, out, "data")
    with pytest.raises(ValueError, match="commit digest"):
        run_extraction_job(spark, inp, out, SNAPSHOT, num_partitions=2)
    os.remove(rogue)
    assert read_committed(spark, out, "data").count() == 40
