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

It also pins the job path's import closure: what a Python worker loads to
run the extraction kernel, so an off-path import cannot creep back in.

No Spark session needed — registry introspection and one subprocess.
"""

from __future__ import annotations

import ast
import inspect
import json
import os
import subprocess
import sys

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


# package modules (and package __init__s) the extraction job may load
JOB_PATH_MODULES = {
    "",
    "functions",
    "functions.charset",
    "functions.fasthtml",
    "functions.image_kernels",
    "functions.layout",
    "functions.normalize",
    "functions.pixmap",
    "functions.variants_data",
    "functions.variants_icu",
    "operators",
    "operators.extract",
    "plans",
    "plans.checkpoint",
    "plans.pipeline",
    "session",
    "sources",
    "sources.pages",
}


def _warm_session_imports() -> list[str]:
    """Package modules ``_warm_session`` imports into each Python worker."""
    from intelligent_ocr_spark import session

    tree = ast.parse(inspect.getsource(session._warm_session).lstrip())
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            names.add(node.module)
    return sorted(n for n in names if n.startswith("intelligent_ocr_spark"))


def test_job_path_import_closure():
    """A fresh interpreter that imports the job and the session, runs the
    worker warm-up's imports and extracts plain, PXPG and quarantined rows
    loads exactly the job-path modules of the package."""
    code = "\n".join(
        ["import json, sys",
         "import intelligent_ocr_spark.plans.pipeline",
         "import intelligent_ocr_spark.session"]
        + [f"import {m}" for m in _warm_session_imports()]
        + ["from intelligent_ocr_spark.operators.extract import extract_record",
           "from intelligent_ocr_spark.sources.pages import gen_image_row, gen_row",
           "kinds = set()",
           "for i in range(20):",
           "    for r in (gen_row(i), gen_image_row(i)):",
           "        e = extract_record(r['url'], r['warc_ts'], r['html'], r['text'], r['lang'])",
           "        kind = 'pxpg' if r['html'] and r['html'][:4] == b'PXPG' else 'html'",
           "        kinds.add(e['error'].split(':')[0] if e['error'] else kind)",
           "mods = sorted(m for m in sys.modules if m.startswith('intelligent_ocr_spark'))",
           "print(json.dumps({'kinds': sorted(kinds), 'modules': mods}))"]
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", code], cwd=root, capture_output=True,
                         text=True, timeout=300, check=True)
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert {"html", "pxpg", "html_null", "pxpg_decode"} <= set(got["kinds"]), got["kinds"]
    want = {"intelligent_ocr_spark" + (f".{m}" if m else "") for m in JOB_PATH_MODULES}
    assert set(got["modules"]) == want, {
        "unexpected": sorted(set(got["modules"]) - want),
        "missing": sorted(want - set(got["modules"])),
    }
