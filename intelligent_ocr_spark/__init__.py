"""intelligent_ocr_spark — a PySpark-native main-content extraction engine.

A from-scratch re-expression of the capabilities of the reference
``anon-research-tools/intelligent-ocr`` pipeline (scan → searchable text),
re-targeted as a web-scale main-content extraction pipeline over
Common-Crawl-style page tables ``(url, warc_ts, html:binary, text, lang)``.

Architecture (Spark-first, not a port):

* one Arrow batch extraction kernel run under ``mapInArrow``
  (:mod:`intelligent_ocr_spark.operators.extract`) replaces the reference's
  thread/queue/process-pool pipeline (reference ``core/pdf_processor.py:1018-1646``);
* resume / lineage are table-level joins and per-partition atomic commits
  (:mod:`intelligent_ocr_spark.plans`), replacing per-page JSON checkpoints
  (reference ``core/checkpoint.py``);
* normalization (NFKC + variant characters, reference ``core/variants.py``)
  is a broadcast dict applied via vectorized ``str.translate``
  (:mod:`intelligent_ocr_spark.functions.normalize`).

Everything here derives from public knowledge only: the Apache Spark API and
the behavior of the reference repo.
"""

__version__ = "0.1.0"
