#!/usr/bin/env python
"""Production entry point: spark-submit --py-files intelligent_ocr_spark.zip
jobs/run_extraction.py --input <pages parquet/table> --output <dir>
[--snapshot-id N] [--partitions P]

Runs (or resumes) the extraction job and prints a one-line JSON summary.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> int:
    from intelligent_ocr_spark.operators.extract import (
        DEFAULT_EXISTING_TEXT_MIN_CHARS,
        DEFAULT_MIN_CONFIDENCE,
    )

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="pages parquet path / table")
    ap.add_argument("--output", required=True, help="output table directory")
    ap.add_argument("--snapshot-id", type=int, default=0,
                    help="input snapshot id recorded in checkpoint/lineage")
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--min-confidence", type=float, default=DEFAULT_MIN_CONFIDENCE)
    ap.add_argument("--existing-text-min-chars", type=int,
                    default=DEFAULT_EXISTING_TEXT_MIN_CHARS)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from intelligent_ocr_spark.plans.pipeline import run_extraction_job

    spark = SparkSession.builder.appName("intelligent_ocr_spark.extract").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    pages = spark.read.parquet(args.input)
    summary = run_extraction_job(
        spark,
        pages,
        args.output,
        input_snapshot_id=args.snapshot_id,
        num_partitions=args.partitions,
        min_confidence=args.min_confidence,
        existing_text_min_chars=args.existing_text_min_chars,
    )
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
