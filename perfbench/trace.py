"""The traced run: per-layer metrics, spans and a per-layer table.

Spans are recorded only from the benchmark's own files, around calls into
each layer; the package is not edited. Kernel layers are measured in this
process over a fixed sample of the workload's rows, with the names that
``operators/extract.py`` imports rebound to timing wrappers while the
sample runs. Job layers are timed as separate public calls on the
workload's session, and Spark's SQL, stage and task metrics plus /proc CPU
and memory are read around them. Each span is (id, parent, name, start,
end); spans stay in memory and are written once, at the end of the run.
"""

from __future__ import annotations

import ast
import inspect
import json
import os
import subprocess
import sys
import time
from collections import Counter, defaultdict

import pyarrow.parquet as pq

from intelligent_ocr_spark import session as session_mod
from intelligent_ocr_spark.operators import extract as X
from intelligent_ocr_spark.operators.extract import extract_pages
from intelligent_ocr_spark.plans.checkpoint import completed_urls, read_committed

from perfbench.checks import QUARANTINE_REASONS
from perfbench.jobs import SNAPSHOT_ID, JobBench
from perfbench.sparkmetrics import SparkMetrics

#: rows of the workload's table the kernel layers are measured on
KERNEL_SAMPLE = {"plain": 2000, "real": 800}


class Tracer:
    """In-memory span recorder."""

    def __init__(self) -> None:
        self.spans: list[tuple[int, int, str, float, float]] = []
        self._stack: list[int] = []
        self._open: dict[int, tuple[int, str, float]] = {}
        self._next = 1

    def begin(self, name: str) -> int:
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else 0
        self._stack.append(sid)
        self._open[sid] = (parent, name, time.perf_counter())
        return sid

    def end(self, sid: int) -> float:
        t = time.perf_counter()
        parent, name, start = self._open.pop(sid)
        self._stack.remove(sid)
        self.spans.append((sid, parent, name, start, t))
        return t - start

    def span(self, name: str):
        tracer = self

        class _Span:
            def __enter__(self):
                self.sid = tracer.begin(name)
                return self

            def __exit__(self, *exc):
                self.seconds = tracer.end(self.sid)
                return False

        return _Span()

    def totals(self) -> tuple[dict[str, float], dict[str, float], Counter]:
        """Total and self seconds and call count per span name. Self time
        is the span minus the time its direct children cover."""
        child = defaultdict(float)
        for _, parent, _, start, end in self.spans:
            child[parent] += end - start
        total, self_t, calls = defaultdict(float), defaultdict(float), Counter()
        for sid, _, name, start, end in self.spans:
            total[name] += end - start
            self_t[name] += end - start - child[sid]
            calls[name] += 1
        return total, self_t, calls

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, parent, name, start, end in sorted(self.spans):
                f.write(json.dumps({"id": sid, "parent": parent, "name": name,
                                    "start": start, "end": end}) + "\n")


# ---------------------------------------------------------------------------
# kernel layers (in-process)
# ---------------------------------------------------------------------------
class _Probe:
    """Rebinds the names ``operators/extract.py`` looks up at call time to
    wrappers that record spans and per-doc facts; :meth:`restore` puts the
    originals back."""

    NAMES = ("decode_html_bytes", "_parse_html", "_scan_geo_page", "_scan_page",
             "fast_feed", "nfkc", "reading_order", "get_normalizer")

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.orig = {k: getattr(X, k) for k in self.NAMES}
        self.tiers = Counter()
        self.charset = Counter()
        self._tier = None

    def _timed(self, name, fn):
        tracer = self.tracer

        def wrapper(*a, **k):
            sid = tracer.begin(name)
            try:
                return fn(*a, **k)
            finally:
                tracer.end(sid)

        return wrapper

    def install(self) -> None:
        o = self.orig
        probe = self

        def decode(data, *a, **k):
            sid = probe.tracer.begin("charset.decode")
            try:
                text, err = o["decode_html_bytes"](data, *a, **k)
            finally:
                probe.tracer.end(sid)
            if text is None:
                probe.charset["failed"] += 1
            else:
                try:
                    data.decode("utf-8")
                except UnicodeDecodeError:
                    probe.charset["sniffed"] += 1  # resolved past strict UTF-8
            probe.charset["calls"] += 1
            return text, err

        def parse(raw):
            probe._tier = "stdlib"  # tier 4 unless a faster tier answers
            sid = probe.tracer.begin("parse")
            try:
                return o["_parse_html"](raw)
            finally:
                probe.tracer.end(sid)
                probe.tiers[probe._tier] += 1

        def tier(name, fn):
            def wrapper(*a, **k):
                page = fn(*a, **k)
                if page is not None:
                    probe._tier = name
                return page

            return wrapper

        def handler(*a, **k):
            probe._tier = "handler"
            return o["fast_feed"](*a, **k)

        class _Normalizer:
            def __init__(self, inner):
                self.normalize = probe._timed("normalize.variant", inner.normalize)
                self.needs_normalization = probe._timed(
                    "normalize.variant", inner.needs_normalization
                )

        norm = _Normalizer(o["get_normalizer"]())
        X.decode_html_bytes = decode
        X._parse_html = parse
        X._scan_geo_page = tier("geo", o["_scan_geo_page"])
        X._scan_page = tier("fused", o["_scan_page"])
        X.fast_feed = handler
        X.nfkc = self._timed("normalize.nfkc", o["nfkc"])
        X.reading_order = self._timed("layout.reading_order", o["reading_order"])
        X.get_normalizer = lambda: norm

    def restore(self) -> None:
        for k, v in self.orig.items():
            setattr(X, k, v)


def _sample_rows(input_path: str, n: int) -> list[dict]:
    rows: list[dict] = []
    for name in sorted(os.listdir(input_path)):
        if len(rows) >= n:
            break
        rows.extend(pq.read_table(os.path.join(input_path, name)).to_pylist())
    return rows[:n]


def _extract_all(rows, tracer: Tracer | None) -> float:
    t0 = time.perf_counter()
    for r in rows:
        if tracer is not None:
            sid = tracer.begin("extract.record")
        X.extract_record(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"])
        if tracer is not None:
            tracer.end(sid)
    return time.perf_counter() - t0


def kernel_layers(rows: list[dict], tracer: Tracer) -> dict:
    _extract_all(rows, None)  # warm: regex compiles, normalizer singleton
    untraced = _extract_all(rows, None)
    probe = _Probe(tracer)
    probe.install()
    try:
        with tracer.span("kernel"):
            traced = _extract_all(rows, tracer)
    finally:
        probe.restore()
    total, self_t, _ = tracer.totals()
    n = len(rows)
    parsed = sum(probe.tiers.values()) or 1
    calls = probe.charset["calls"] or 1
    us = 1e6 / n
    return {
        "extract.record_us_per_doc": untraced * us,
        "extract.self_us_per_doc": self_t["extract.record"] * us,
        "charset.decode_us_per_doc": total["charset.decode"] * us,
        "charset.sniffed_share": probe.charset["sniffed"] / calls,
        "charset.failed_share": probe.charset["failed"] / calls,
        "parse.us_per_doc": total["parse"] * us,
        "parse.tier_geo_share": probe.tiers["geo"] / parsed,
        "parse.tier_fused_share": probe.tiers["fused"] / parsed,
        "parse.tier_handler_share": probe.tiers["handler"] / parsed,
        "parse.tier_stdlib_share": probe.tiers["stdlib"] / parsed,
        "normalize.nfkc_us_per_doc": total["normalize.nfkc"] * us,
        "normalize.variant_us_per_doc": total["normalize.variant"] * us,
        "layout.reading_order_us_per_doc": total["layout.reading_order"] * us,
        "trace.kernel_overhead_share": traced / untraced - 1.0,
    }


def worker_import_s() -> float | None:
    """Fresh-interpreter import time of the modules ``_warm_session``
    imports into each Python worker (read from its source, so the list
    follows the package)."""
    tree = ast.parse(inspect.getsource(session_mod._warm_session).lstrip())
    mods = sorted({a.name for node in ast.walk(tree) if isinstance(node, ast.Import)
                   for a in node.names if a.name.startswith("intelligent_ocr_spark")})
    code = ("import time; t = time.perf_counter(); "
            + "".join(f"import {m}; " for m in mods)
            + "print(time.perf_counter() - t)")
    try:
        out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                             text=True, timeout=120, check=True)
        return float(out.stdout.strip().splitlines()[-1])
    except (subprocess.SubprocessError, ValueError, IndexError) as e:
        print(f"perfbench: session.worker_import_s absent ({e})", file=sys.stderr)
        return None


# ---------------------------------------------------------------------------
# job layers
# ---------------------------------------------------------------------------
def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes_files(path: str) -> tuple[int, int]:
    size = files = 0
    for root, _, names in os.walk(path):
        for nm in names:
            size += os.path.getsize(os.path.join(root, nm))
            files += 1
    return size, files


def job_layers(jb: JobBench, tracer: Tracer, ops, input_path: str) -> tuple[dict, list]:
    """Per-layer job metrics; returns them and the outputs to check."""
    sm = SparkMetrics(jb.spark)
    sc = jb.spark.sparkContext
    m: dict = {}
    to_check: list = []

    def phase(name, fn, *a, **k):
        sc.setJobDescription(f"perfbench {name}")
        failed = ops.failed
        with tracer.span(name) as sp:
            sp.result = ops.run(name, fn, *a, **k)
        sp.ok = ops.failed == failed
        return sp

    with tracer.span("job.warm_up"):
        to_check.extend(jb.warm_up(ops))  # as in the timed run

    untraced = phase("job.cold_untraced", jb.cold).result
    if untraced is not None:
        to_check.append(("cold-untraced", untraced))
        m["_p4_docs_per_s"] = untraced["docs"] / untraced["wall_s"]

    mark = sm.mark()
    cold = phase("job.cold", jb.cold).result
    if cold is not None:
        to_check.append(("cold", cold))
        docs = cold["docs"]
        sql = sm.sql_totals(mark)
        mb = 1024.0**2
        m["ipc.sent_mb"] = _div(sql.get("data sent to Python workers"), mb)
        m["ipc.returned_mb"] = _div(sql.get("data returned from Python workers"), mb)
        m["ipc.python_run_s"] = sql.get("time to run Python workers")
        start = [sql.get("time to start Python workers"), sql.get("time to initialize Python workers")]
        m["ipc.worker_start_s"] = None if None in start else sum(start)
        m["pipeline.shuffle_mb"] = sm.shuffle_write_mb(mark)
        m["pipeline.task_skew"] = sm.task_skew(mark)
        # rows and bytes one extract task feeds its Python worker: above
        # maxRecordsPerBatch (4096) or maxBytesPerBatch (32 MiB) the batch
        # cap splits the partition into several Arrow batches
        tasks = sm.busiest_stage_tasks(mark)
        if tasks:
            m["ipc.rows_per_task"] = docs / tasks
            m["ipc.sent_mb_per_task"] = _div(m["ipc.sent_mb"], tasks)
        if "cpu_jvm_s" in cold:
            m["cpu.cold.jvm_s"] = cold["cpu_jvm_s"]
            m["cpu.cold.python_s"] = cold["cpu_python_s"]
            m["ipc.python_cpu_us_per_doc"] = cold["cpu_python_s"] / docs * 1e6
        m["mem.jvm_peak_rss_mb"] = cold.get("jvm_rss_mb")
        size, files = _dir_bytes_files(cold["out"])
        m["checkpoint.bytes_written_per_doc"] = size / docs
        m["checkpoint.files_written"] = files
        if untraced is not None:
            m["trace.overhead_s"] = cold["wall_s"] - untraced["wall_s"]

        # resume with nothing left: default gate, no gate, lineage gate
        gates = {}
        for gate in (True, False, "lineage"):
            r = phase(f"job.noop_gate_{gate}", jb.noop, cold["out"], integrity_check=gate).result
            if r is not None:
                gates[gate] = r
                if gate is True:
                    m["cpu.noop.jvm_s"] = r.get("cpu_jvm_s")
                    m["cpu.noop.python_s"] = r.get("cpu_python_s")
        if True in gates and False in gates:
            m["pipeline.gate_input_s"] = gates[True]["wall_s"] - gates[False]["wall_s"]
        if "lineage" in gates and False in gates:
            m["pipeline.gate_lineage_s"] = gates["lineage"]["wall_s"] - gates[False]["wall_s"]

        with tracer.span("checkpoint.read_committed") as sp:
            ops.run("read-committed", _noop_write, read_committed(jb.spark, cold["out"], "data"))
        m["checkpoint.read_committed_s"] = sp.seconds

    noop_extract = phase("extract.noop", _noop_write, extract_pages(jb.df))
    if noop_extract.ok:
        m["extract.noop_docs_per_s"] = jb.n / noop_extract.seconds
    nogate = phase("job.cold_nogate", jb.cold, integrity_check=False).result
    if nogate is not None:
        to_check.append(("cold-nogate", nogate))
        m["pipeline.job_nogate_s"] = nogate["wall_s"]
        if noop_extract.ok:
            m["pipeline.job_over_noop"] = nogate["wall_s"] / noop_extract.seconds

    if jb.tail_base is not None:
        ckpt = os.path.join(jb.tail_base, "checkpoint")
        with tracer.span("checkpoint.completed_urls") as sp:
            done = completed_urls(jb.spark, ckpt, SNAPSHOT_ID, jb.cfg_hash)
            ops.run("completed-urls", done.count)
        m["checkpoint.completed_urls_s"] = sp.seconds
        with tracer.span("pipeline.antijoin") as sp:
            ops.run("antijoin", _noop_write, jb.df.join(done, "url", "left_anti"))
        m["pipeline.antijoin_s"] = sp.seconds

    tail = phase("job.tail", jb.tail).result
    if tail is not None:
        to_check.append(("tail", tail))
        m["cpu.tail.jvm_s"] = tail.get("cpu_jvm_s")
        m["cpu.tail.python_s"] = tail.get("cpu_python_s")

    mark = sm.mark()
    sp = phase("sources.scan", _noop_write,
               jb.spark.read.parquet(input_path).select("url", "warc_ts", "html", "text", "lang"))
    m["sources.scan_s"] = sp.seconds
    m["sources.scan_mb"] = _div(sm.sql_totals(mark).get("size of files read"), 1024.0**2)
    sc.setJobDescription(None)
    return m, to_check


def _div(v, d):
    return None if v is None else v / d


def write_report(trace_dir: str, workload: str, seed: int, metrics: dict,
                 tracer: Tracer) -> None:
    """Span file plus a per-layer table (markdown) for one workload."""
    os.makedirs(trace_dir, exist_ok=True)
    path_prefix = os.path.join(trace_dir, f"{workload}-s{seed}")
    tracer.write(path_prefix + ".spans.jsonl")
    total, self_t, calls = tracer.totals()
    with open(path_prefix + ".layers.md", "w") as f:
        f.write(f"# per-layer metrics: {workload}\n\n| metric | value |\n|---|---|\n")
        for k in sorted(metrics):
            v = metrics[k]
            f.write(f"| {k} | {'absent' if v is None else f'{v:.6g}'} |\n")
        f.write("\n| span | calls | total s | self s |\n|---|---|---|---|\n")
        for name in sorted(total, key=total.get, reverse=True):
            f.write(f"| {name} | {calls[name]} | {total[name]:.4f} | {self_t[name]:.4f} |\n")


def traced_run(jb: JobBench, tracer: Tracer, ops, input_path: str, table: str,
               checked) -> dict:
    """Per-layer metrics of one workload on its session. ``checked(runs)``
    checks job outputs and returns the summaries of those that passed."""
    with tracer.span("session.worker_import"):
        m = {"session.worker_import_s": worker_import_s()}
    with tracer.span("kernel.sample"):
        rows = _sample_rows(input_path, KERNEL_SAMPLE[table])
    m.update(kernel_layers(rows, tracer))
    job_m, runs = job_layers(jb, tracer, ops, input_path)
    m.update(job_m)
    summaries = checked(runs)
    cold = summaries.get("cold")
    if cold is not None:
        for reason in QUARANTINE_REASONS:
            m[f"extract.quarantine_{reason}"] = cold[reason]
        m["extract.skipped"] = cold["skipped"]
        m["extract.blank"] = cold["blank"]
    return m
