"""Registry-rotation invariants for the driver's 50-query correctness cap.

The driver verifies only the first ``DRIVER_QUERY_CAP`` entries of
``queries()`` each round.  The policy (documented at the registry in
``__spark_entry__.py``) guarantees:

1. every query changed/added this round is inside the cap;
2. every query skipped last round is inside the cap this round — so no
   query goes more than one round without a driver correctness row;
3. ``queries()`` and ``oracle_sql()`` share one ordering, and every oracle
   key is a registered query;
4. the query lists the bench and plan-dump tools run by default name only
   registered queries.

No Spark session needed — pure registry introspection.
"""

from __future__ import annotations

import __spark_entry__ as entry


def test_changed_queries_inside_driver_cap():
    order = list(entry.queries())
    cap = set(order[: entry.DRIVER_QUERY_CAP])
    missing = [n for n in entry._CHANGED_THIS_ROUND if n in order and n not in cap]
    assert not missing, f"changed-this-round queries past position 50: {missing}"


def test_skipped_last_round_inside_driver_cap():
    order = list(entry.queries())
    cap = set(order[: entry.DRIVER_QUERY_CAP])
    missing = [n for n in entry._SKIPPED_LAST_ROUND if n in order and n not in cap]
    assert not missing, f"queries unchecked two rounds running: {missing}"


def test_rotation_lists_name_real_queries():
    order = set(entry.queries())
    stale = [
        n
        for n in entry._CHANGED_THIS_ROUND + entry._SKIPPED_LAST_ROUND
        if n not in order
    ]
    assert not stale, f"rotation bookkeeping names unregistered queries: {stale}"


def test_tool_query_lists_name_real_queries():
    import bench
    import tools_dump_plans

    order = set(entry.queries())
    stale = [
        n
        for n in bench.HEADLINE_QUERIES + tools_dump_plans.DEFAULT_QUERIES
        if n not in order
    ]
    assert not stale, f"tool query lists name unregistered queries: {stale}"


def test_oracles_subset_of_queries_and_same_order():
    qs = list(entry.queries())
    os_ = list(entry.oracle_sql())
    assert set(os_) <= set(qs)
    # shared ordering: oracle keys appear in the same relative order
    pos = {n: i for i, n in enumerate(qs)}
    assert os_ == sorted(os_, key=pos.__getitem__)


def test_rotation_varies_by_round(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "7")
    a = list(entry.queries())
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "8")
    b = list(entry.queries())
    assert set(a) == set(b)
    assert a != b, "stable remainder must rotate between rounds"
