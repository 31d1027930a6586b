"""The job phases the benchmark times, each one checked operation.

All phases call the production entry point
``plans/pipeline.py::run_extraction_job`` with its defaults (integrity gate
on), on one cached input table:

* ``cold`` — into an empty output directory;
* ``tail`` — into a copy of an output where the url-hash-selected 90% of
  urls (``pmod(xxhash64(url), 10) != 0``) are already committed under the
  same snapshot id and config, so only the last 10% is extracted;
* ``noop`` — again over a fully committed output: nothing is left to do.

Every call counts as one attempted operation. One that raises, returns a
wrong summary, or whose committed output later fails
:meth:`JobBench.check_outputs` counts as failed (:class:`Ops`).
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
import uuid

from pyspark.sql import functions as F

from intelligent_ocr_spark.plans.pipeline import run_extraction_job

from perfbench import procstat
from perfbench.checks import CheckFailed, check_output, summarize_outputs

SNAPSHOT_ID = 7


class Ops:
    """Attempted / failed operation counts."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def run(self, name: str, fn, *args, **kwargs):
        """Run one operation; a raise or failed check is recorded, not
        propagated, and the result is then ``None``."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception:  # noqa: BLE001 — a failed op is a result, not a crash
            self.fail(name)
            traceback.print_exc(file=sys.stderr)
            return None

    def fail(self, name: str, why: str = "") -> None:
        """Count an operation as failed (also one that returned, when a
        later check of its output fails)."""
        self.failed += 1
        print(f"perfbench: operation {name} failed {why}".rstrip(), file=sys.stderr)


def _file_count(path: str) -> int:
    return sum(len(files) for _, _, files in os.walk(path))


class JobBench:
    """Phases of one workload on one session. ``runs_dir`` holds the output
    directories; the caller removes what it keeps."""

    def __init__(self, spark, input_path: str, n: int, expected: dict,
                 ledger, checksum_keys: dict[str, str], prefix_n: int, runs_dir: str):
        self.spark = spark
        self.df = spark.read.parquet(input_path)
        self.n = n
        self.expected = expected
        self.ledger = ledger
        self.checksum_keys = checksum_keys
        self.prefix_n = prefix_n
        self.runs_dir = runs_dir
        self.tail_base: str | None = None
        self.n_base = 0
        self.cfg_hash: str | None = None
        os.makedirs(runs_dir, exist_ok=True)

    def new_dir(self, tag: str) -> str:
        return os.path.join(self.runs_dir, f"{tag}-{uuid.uuid4().hex[:8]}")

    # -- checks ---------------------------------------------------------
    @staticmethod
    def _check_summary(summary: dict, docs: int, gate: bool = True) -> None:
        if summary.get("docs_processed") != docs or (
            gate and summary.get("integrity_ok") is not True
        ):
            raise CheckFailed(
                f"job summary: {summary.get('docs_processed')} docs processed, "
                f"expected {docs}; integrity_ok={summary.get('integrity_ok')}"
            )

    def _check(self, got: dict) -> None:
        check_output(got, self.n, self.expected)
        self.ledger.check(self.checksum_keys["full"], got["checksum"])
        if "prefix" in self.checksum_keys:
            self.ledger.check(self.checksum_keys["prefix"], got["prefix_checksum"])

    def check_outputs(self, out_dirs: list[str]) -> list[tuple[dict | None, str | None]]:
        """Check each committed output through the package's own
        ``read_committed`` view, all in one Spark query: exactly-once,
        per-class counts, and its full-row and prefix checksums against the
        ledger. Returns (summary, failure message or ``None``) per dir."""
        try:
            summaries = summarize_outputs(self.spark, out_dirs, self.prefix_n)
        except Exception as e:  # noqa: BLE001 — an unreadable output fails its ops
            traceback.print_exc(file=sys.stderr)
            return [(None, f"{e.__class__.__name__}: {e}")] * len(out_dirs)
        verdicts = []
        for got in summaries:
            try:
                self._check(got)
                verdicts.append((got, None))
            except CheckFailed as e:
                verdicts.append((got, str(e)))
        return verdicts

    # -- phases -----------------------------------------------------------
    def _timed_job(self, out: str, **job_kwargs) -> tuple[dict, dict]:
        cpu0 = procstat.cpu_split()
        t0 = time.perf_counter()
        summary = run_extraction_job(self.spark, self.df, out, SNAPSHOT_ID, **job_kwargs)
        res = {"wall_s": time.perf_counter() - t0, "out": out}
        cpu1 = procstat.cpu_split()
        if cpu0 is not None and cpu1 is not None:
            res["cpu_jvm_s"] = cpu1["jvm"] - cpu0["jvm"]
            res["cpu_python_s"] = cpu1["python"] - cpu0["python"]
        return summary, res

    def prepare_tail_base(self) -> None:
        """Untimed: commit the url-hash-selected 90% once."""
        out = self.new_dir("base")
        part = self.df.filter(F.pmod(F.xxhash64("url"), F.lit(10)) != 0)
        summary = run_extraction_job(self.spark, part, out, SNAPSHOT_ID)
        n_base = summary.get("docs_processed") or 0
        if not 0 < n_base < self.n:
            raise CheckFailed(f"the 90% base committed {n_base} of {self.n} docs")
        self._check_summary(summary, n_base)
        self.tail_base, self.n_base = out, n_base
        self.cfg_hash = summary["config_hash"]

    def repetition(self, ops: Ops) -> dict[str, dict | None]:
        """One ``cold`` → ``noop`` (over that cold output) → ``tail`` pass;
        the result of each phase, ``None`` for one that failed."""
        cold = ops.run("cold", self.cold)
        noop = ops.run("noop", self.noop, cold["out"]) if cold is not None else None
        tail = ops.run("tail", self.tail)
        return {"cold": cold, "noop": noop, "tail": tail}

    def warm_up(self, ops: Ops) -> list[tuple[str, dict]]:
        """Untimed: one job of every timed phase's plan, so that no timed
        job is the first of its plan in this JVM. The 90% base job is a
        cold job over 90% of the rows; a tail on a copy of it is the tail
        phase; a resume over that tail's output, which then holds every
        row, is the no-op phase. Returns the full output it made, to be
        checked like a timed one."""
        ops.run("tail-base", self.prepare_tail_base)
        tail = ops.run("warm-tail", self.tail)
        if tail is None:
            return []
        ops.run("warm-noop", self.noop, tail["out"])
        return [("warm-tail", tail)]

    def cold(self, **job_kwargs) -> dict:
        """Cold job into a new directory; also records the largest
        Python-worker and JVM VmHWM at its end."""
        summary, res = self._timed_job(self.new_dir("cold"), **job_kwargs)
        self._check_summary(summary, self.n, gate=bool(job_kwargs.get("integrity_check", True)))
        rss = procstat.peak_rss_mb()
        if rss is not None:
            res["worker_rss_mb"] = rss["python"]
            res["jvm_rss_mb"] = rss["jvm"]
        res["docs"] = summary["docs_processed"]
        return res

    def tail(self) -> dict:
        if self.tail_base is None:
            raise CheckFailed("no 90% base output to resume from")
        out = self.new_dir("tail")
        shutil.copytree(self.tail_base, out)
        summary, res = self._timed_job(out)
        self._check_summary(summary, self.n - self.n_base)
        return res

    def noop(self, out: str, **job_kwargs) -> dict:
        """Re-run over ``out``, which has every row of the table committed."""
        files_before = _file_count(out)
        summary, res = self._timed_job(out, **job_kwargs)
        self._check_summary(summary, 0, gate=bool(job_kwargs.get("integrity_check", True)))
        if _file_count(out) != files_before:
            raise CheckFailed("a resume with nothing left to do wrote files")
        return res
