"""SparkSession factory tuned for the extraction workload.

Scale notes (100 TB / 1000-executor design, tested on local[N]):

* AQE on: runtime partition coalescing + skew-join splitting replace the
  reference's only skew tool, a queue-stall counter
  (reference ``core/pdf_processor.py:1227-1241``).
* Arrow batches: sized by BYTES first (``maxBytesPerBatch`` — page rows
  are fat, html binary can be tens of KB-MB, so a byte cap is the bound
  that actually protects worker memory), with a generous row cap
  (``maxRecordsPerBatch``). The previous 256-row cap implemented the byte
  bound indirectly and cost ~15% of extraction wall time in per-batch
  Python/Arrow overhead on ordinary-sized pages (round-6 measurement);
  the byte cap is the direct knob (Spark 4) and keeps the worst-case
  batch footprint identical. The Spark analog of the reference's bounded
  prefetch queue (``core/pdf_processor.py:1161``, maxsize=4 pages).
* Shuffle partitions sized to cores locally; on a real cluster AQE's
  coalescing makes the initial number less critical.
* Session timezone pinned to UTC so results compare bit-stably against the
  DuckDB oracle (DuckDB timestamps are UTC-naive).
* One-time session warm-up (``_warm_session``): the first job in a fresh
  JVM pays codegen-compiler, shuffle-machinery, parquet-reader and
  Python-worker-daemon initialization — cost that belongs to session
  startup, not to whichever query happens to run first. The warm-up runs
  a tiny shuffled aggregate, a tiny parquet round-trip and one
  mapInArrow task per core (importing the extraction kernel through the
  same Arrow boundary ``extract_pages`` and the job's commit use), the
  steady-state discipline the extraction bench child already applies to
  its own timed section. Disable with SPARK_GRAFT_WARM_SESSION=0.
* Zip importers dropped per task (:func:`drop_zip_importers`): before
  every task PySpark's worker (``worker_util.setup_spark_files``) calls
  ``importlib.invalidate_caches()``. On CPython 3.10-3.12 that makes every
  ``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's
  whole central directory in pure Python (3.13 made it lazy). A warm
  Spark 4.1 worker holds 16 of them: one per package directory of
  ``pyspark.zip`` (1,328 entries, re-read for each) and of the py4j zip,
  plus the spark-core jar (5,359 entries, no Python) that Spark puts on
  every worker's path. Measured inside a worker on a 4-core Xeon host:
  130-240 ms per task. Every Python partition function on the job path
  drops those entries when its batches are done, so the next task's
  invalidation finds none.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import zipimport

from pyspark.sql import SparkSession

DEFAULT_ARROW_BATCH = 4096
DEFAULT_ARROW_MAX_BYTES = 32 * 1024 * 1024  # 32 MiB per batch

# Make this package importable inside Spark's Python workers. On a real
# cluster this is `spark-submit --py-files intelligent_ocr_spark.zip`
# (north_rule); in local mode the worker daemon inherits PYTHONPATH from
# the environment the JVM is launched with, so it must be set BEFORE the
# first getOrCreate().
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in os.environ.get("PYTHONPATH", "").split(os.pathsep):
    os.environ["PYTHONPATH"] = (
        _REPO_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    ).rstrip(os.pathsep)


def drop_zip_importers() -> None:
    """Delete the ``zipimporter`` values from ``sys.path_importer_cache``.

    Modules already imported keep their loaders; a later import re-creates
    only the entry it needs, from ``zipimport._zip_directory_cache``, which
    stays filled, so nothing re-reads an archive. Called at the end of each
    Python partition function on the job path: a task's first-time imports
    (and the unpickling of its function) can re-create entries, so a
    one-time call per worker would not hold. The price: an archive changed
    in place while the worker lives is not re-read (Spark does not
    overwrite a file already added to an application).
    """
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)


#: application ids already warmed (getOrCreate can hand the same session
#: to many build_session calls — warm once per JVM/application)
_WARMED: set[str] = set()


def _warm_session(spark: SparkSession, cores: int) -> None:
    """Amortize one-time JVM/worker initialization at build time.

    Touches no input data and computes no query result — it only forces
    the lazy machinery (whole-stage codegen compile, exchange/AQE paths,
    parquet reader+writer classes, Python worker daemon fork + imports)
    that would otherwise be charged to the first real query.
    """
    app_id = spark.sparkContext.applicationId
    if app_id in _WARMED:
        return
    _WARMED.add(app_id)
    if os.environ.get("SPARK_GRAFT_WARM_SESSION", "1") != "1":
        return
    from pyspark.sql import functions as F

    # codegen + shuffle + AQE: a tiny aggregate-join through one exchange
    a = spark.range(0, 1000, 1, 4).select("id", (F.col("id") % 7).alias("k"))
    a.join(a.groupBy("k").count(), "k").agg(F.sum("count")).collect()
    # parquet reader/writer init on a throwaway table
    d = tempfile.mkdtemp(prefix="spark_graft_warm_")
    try:
        spark.range(0, 8, 1, 1).write.mode("overwrite").parquet(d)
        spark.read.parquet(d).count()
    finally:
        shutil.rmtree(d, ignore_errors=True)

    # Python workers: one task per core importing the extraction kernel
    # (worker reuse keeps the warmed daemons for every later task); the
    # zip importers those imports cache are dropped after them
    def _imp(batches):
        import intelligent_ocr_spark.operators.extract  # noqa: F401

        drop_zip_importers()
        yield from batches

    (
        spark.range(0, cores * 2, 1, cores * 2)
        .mapInArrow(_imp, "id long")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )


def build_session(
    parallelism: int | None = None,
    app_name: str = "intelligent_ocr_spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a local SparkSession with the engine's standard conf.

    ``parallelism=None`` uses ``local[*]``. On a real cluster this factory is
    bypassed — ``spark-submit`` provides the session and these confs move to
    ``spark-defaults``; nothing in the engine assumes local mode.
    """
    cores = parallelism or os.cpu_count() or 8
    master = f"local[{parallelism}]" if parallelism else "local[*]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
        .config("spark.default.parallelism", str(max(cores, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_BATCH", str(DEFAULT_ARROW_BATCH)),
        )
        .config(
            "spark.sql.execution.arrow.maxBytesPerBatch",
            os.environ.get(
                "SPARK_GRAFT_ARROW_MAX_BYTES", str(DEFAULT_ARROW_MAX_BYTES)
            ),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"
            ),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _warm_session(spark, cores)
    return spark
