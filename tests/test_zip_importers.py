"""Cached zip importers: :func:`session.drop_zip_importers` and the job's
partition functions that call it."""

import importlib
import sys
import zipfile
import zipimport

import pyarrow as pa

from intelligent_ocr_spark.session import drop_zip_importers


def _zip_entries() -> list[str]:
    return [k for k, v in sys.path_importer_cache.items() if isinstance(v, zipimport.zipimporter)]


def test_drop_zip_importers_keeps_imports_working(tmp_path, monkeypatch):
    archive = str(tmp_path / "zpkg.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zpkg_probe/__init__.py", "")
        z.writestr("zpkg_probe/one.py", "def f():\n    return 1\n")
        z.writestr("zpkg_probe/two.py", "from zpkg_probe.one import f\n\ndef g():\n    return f() + 1\n")
    monkeypatch.syspath_prepend(archive)
    for m in ("zpkg_probe", "zpkg_probe.one", "zpkg_probe.two"):
        monkeypatch.delitem(sys.modules, m, raising=False)

    one = importlib.import_module("zpkg_probe.one")
    assert any(k.startswith(archive) for k in _zip_entries())

    drop_zip_importers()
    assert _zip_entries() == []
    assert one.f() == 1
    two = importlib.import_module("zpkg_probe.two")
    assert two.g() == 2
    assert two.__loader__.archive == archive


def test_extract_partition_leaves_no_zip_importer(spark):
    """After the extraction partition function has run on a one-row batch
    inside a Spark task, that worker caches no zip importer, so its next
    task's ``importlib.invalidate_caches()`` re-reads no archive."""
    from intelligent_ocr_spark.operators.extract import extract_partition
    from intelligent_ocr_spark.sources.pages import pages_df

    def probe(batches):
        for b in batches:
            for out in extract_partition(iter([b])):
                assert out.num_rows == b.num_rows
        n = sum(isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values())
        yield pa.RecordBatch.from_pylist([{"n": n}])

    one = pages_df(spark, 1, partitions=1).select("url", "warc_ts", "html", "text", "lang")
    assert [r["n"] for r in one.mapInArrow(probe, "n long").collect()] == [0]
