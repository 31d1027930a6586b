"""Pytest guard on the driver contract: every queries() entry with an
oracle_sql() twin must hash-match DuckDB at sf0.001 (the driver runs the
same check at sf0.01)."""

import __spark_entry__ as entrymod
from tools_parity import run_parity

SF = "/root/testdata/sf0.001"


def test_all_oracles_match(spark):
    ok, failures, _ = run_parity(spark, SF)
    assert not failures, "\n".join(failures)
    assert ok == len(entrymod.oracle_sql())


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.limit(5).collect()
    assert df.columns[0] == "url"
    assert len(rows) > 0


def test_queries_have_unique_nonempty_results_or_documented_empties(spark):
    # dedup_exact is legitimately empty (no exact dups in testdata);
    # everything else must return rows at sf0.001
    allowed_empty = {"dedup_exact"}
    for name, fn in entrymod.queries().items():
        n = fn(spark, SF).count()
        if name not in allowed_empty:
            assert n > 0, f"{name} returned 0 rows"
