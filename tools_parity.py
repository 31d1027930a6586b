"""Dev harness mimicking the driver's oracle check: run every queries()
entry against its oracle_sql() on one sf dir, compare row count, sorted
column names, and order-insensitive values, then print the 15 queries
whose Spark side took longest. Usage:

    python tools_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time

import duckdb

import __spark_entry__ as entrymod
from intelligent_ocr_spark.session import build_session

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat().replace("+00:00", "")
    return str(v)


def fingerprint(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    mat = sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], mat


def run_parity(
    spark, sf_dir: str, only: set[str] | None = None
) -> tuple[int, list[str], dict[str, float]]:
    """Run every query, and check the oracled ones; return (n_ok,
    failure_messages, spark_seconds). spark_seconds maps each query run
    to the wall seconds of building and collecting its DataFrame."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    ok = 0
    failures: list[str] = []
    spark_s: dict[str, float] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        try:
            sdf = fn(spark, sf_dir)
            srows, scols = sdf.collect(), sdf.columns
        except Exception as e:
            kind = "error" if name in oracles else "rows-only spark error"
            failures.append(f"{name}: {kind} {str(e)[:200]}")
            continue
        finally:
            spark_s[name] = time.perf_counter() - t0
        if name not in oracles:
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            failures.append(f"{name}: error {str(e)[:200]}")
            continue
        sc, sm = fingerprint(scols, [tuple(r) for r in srows])
        dc, dm = fingerprint(dcols, drows)
        if sc != dc:
            failures.append(f"{name}: columns {sc} != {dc}")
        elif len(sm) != len(dm):
            failures.append(f"{name}: rowcount {len(sm)} != {len(dm)}")
        elif sm != dm:
            diffs = [(a, b) for a, b in zip(sm, dm) if a != b][:2]
            failures.append(f"{name}: value mismatch {diffs}")
        else:
            ok += 1
    return ok, failures, spark_s


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:]) or None
    spark = build_session(parallelism=8, app_name="parity")
    ok, failures, spark_s = run_parity(spark, sf_dir, only)
    for f in failures:
        print("FAIL", f)
    print("\nslowest Spark sides (s):")
    for name, s in sorted(spark_s.items(), key=lambda kv: -kv[1])[:15]:
        print(f"{s:8.2f}  {name}")
    n_oracled = len(entrymod.oracle_sql())
    print(f"\n{ok} ok, {len(failures)} failed, {len(entrymod.queries()) - n_oracled} rows-only")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
