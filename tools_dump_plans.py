#!/usr/bin/env python
"""Dump .explain("formatted") for a set of declared queries to plans/<tag>/.

Usage: python tools_dump_plans.py <tag> <suffix> [query ...]
Writes plans/<tag>/<query>_<suffix>.txt for each query (default: the bench
headline set plus the round's optimization targets).
"""
from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

DEFAULT_QUERIES = [
    # bench headliners
    "w1_order_repair", "k3_txt_export",
    "stream_windowed_counts", "text_quality_score", "text_fingerprint",
    "dedup_minhash_lsh", "dedup_simhash", "dedup_ngram_jaccard",
    "sim_cosine_topk", "sim_ann_lsh", "mm_decode_stats", "url_canonicalize",
    "text_repetition_signals", "dedup_substring_spans",
    "text_benchmark_contamination", "dedup_paragraphs", "web_domain_caps",
    "prep_pack_partitioned", "text_unigram_logprob",
    "index_inverted_full", "sketch_hll_registers",
    # round-6 optimization targets beyond the headline set
    "dedup_lsh_verified", "extract_docs_pages",
]


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r06"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:] or DEFAULT_QUERIES
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))

    import __spark_entry__ as entrymod
    from intelligent_ocr_spark.session import build_session

    out_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = build_session(parallelism=cores, app_name=f"dump_plans_{tag}")
    qs = entrymod.queries()
    for name in names:
        if name not in qs:
            print(f"SKIP unknown query {name}")
            continue
        try:
            df = qs[name](spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
                f.write(buf.getvalue())
            n_ex = buf.getvalue().count("Exchange")
            print(f"{name}: ok ({n_ex} Exchange mentions)")
        except Exception as e:  # noqa: BLE001 - report and continue
            print(f"{name}: FAILED {e.__class__.__name__}: {e}")
    spark.stop()


if __name__ == "__main__":
    main()
