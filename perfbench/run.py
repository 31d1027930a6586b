"""Job-level benchmark of ``run_extraction_job``.

Usage (from the repository root)::

    python3 perfbench/run.py --workload plain-p4 --seed 1 --seconds 1 --trace 0

One run is one fresh process, one SparkSession on ``local[P]`` and a closed
loop: one job at a time. ``--trace 0`` times the end-to-end phases (see
``perfbench/DESIGN.md``); ``--trace 1`` makes the separate traced run that
reports per-layer metrics and writes a span file. The last line of stdout
is one JSON object ``{"correct", "attempted", "failed", "metrics"}``. The
exit code is 0 only when every operation and output check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

#: seed whose output checksums are pinned in perfbench/pinned.json
DEFAULT_SEED = 42
#: timed repetitions of each phase, at least, whatever --seconds says
MIN_REPS = 3


@dataclass(frozen=True)
class Workload:
    table: str  # "plain" or "real" (perfbench/inputs.py)
    n: int  # input rows
    parallelism: int  # local[P]
    #: rows of the same table the traced run's local[1] baseline extracts;
    #: the end-to-end runs record the checksum of this prefix too, which
    #: compares the local[1] output with the local[4] one
    prefix_n: int


WORKLOADS = {
    "plain-p4": Workload("plain", 36000, 4, 9000),
    "real-p4": Workload("real", 12000, 4, 3000),
}


def _prepare_env(work: str) -> None:
    """Keep every file the run writes inside the checkout, and the JVM heap
    small: the machine is shared."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_WAREHOUSE", os.path.join(work, "warehouse"))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # no hsperfdata files in the system temp dir from the launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp


def _session_conf(work: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
    }


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def median(values):
    return statistics.median(values) if values else None


def _checked(jb, ops, runs: list[tuple[str, dict]]) -> dict[str, dict]:
    """Check the outputs of ``runs`` (name, phase result) in one query, fail
    the operations whose output is wrong, and remove the outputs. Returns
    the output summaries of the runs that passed, by name."""
    passed = {}
    for (name, r), (got, why) in zip(runs, jb.check_outputs([r["out"] for _, r in runs])):
        if why is not None:
            ops.fail(name, why)
        else:
            passed[name] = got
        shutil.rmtree(r["out"], ignore_errors=True)
    return passed


def timed_run(jb, seconds: float, ops) -> dict:
    """Warm every phase, untimed; then repeat cold → noop → tail until
    ``seconds`` have passed, at least MIN_REPS times, and report in-run
    medians. Every output is kept until the end and checked in one query."""
    t0 = time.perf_counter()
    runs = jb.warm_up(ops)
    t_warm = time.perf_counter() - t0
    reps = []
    t_end = time.perf_counter() + seconds
    while len(reps) < MIN_REPS or time.perf_counter() < t_end:
        rep = jb.repetition(ops)
        reps.append(rep)
        runs += [(k, rep[k]) for k in ("cold", "tail") if rep[k] is not None]
        if rep["cold"] is None and rep["tail"] is None:
            break  # nothing works; do not spin until the deadline
    cold, noop, tail = ([r[k] for r in reps if r[k] is not None] for k in ("cold", "noop", "tail"))
    t0 = time.perf_counter()
    if runs:
        _checked(jb, ops, runs)
    t_check = time.perf_counter() - t0
    metrics = {}
    if cold:
        metrics["cold_docs_per_s"] = median([c["docs"] / c["wall_s"] for c in cold])
        cpu = [
            (c["cpu_jvm_s"] + c["cpu_python_s"]) / c["docs"] * 1e6
            for c in cold if "cpu_jvm_s" in c
        ]
        if cpu:
            metrics["cold_cpu_us_per_doc"] = median(cpu)
        rss = [c["worker_rss_mb"] for c in cold if c.get("worker_rss_mb")]
        if rss:
            metrics["worker_peak_rss_mb"] = median(rss)
    if tail:
        metrics["resume_tail_s"] = median([t["wall_s"] for t in tail])
    if noop:
        metrics["resume_noop_s"] = median([x["wall_s"] for x in noop])
    print(
        f"perfbench: {len(cold)} cold, {len(tail)} tail, {len(noop)} noop timed reps; "
        + " ".join(f"cold={c['wall_s']:.2f}" for c in cold) + " "
        + " ".join(f"tail={c['wall_s']:.2f}" for c in tail) + " "
        + " ".join(f"noop={c['wall_s']:.2f}" for c in noop)
        + f"; warm-up {t_warm:.1f} s, output checks {t_check:.1f} s",
        file=sys.stderr,
    )
    return metrics


def _metric_spec(kind: str) -> list[dict]:
    """Names and units of the metrics a run prints, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)[kind]


def _p1_baseline(ctx, wl: Workload, seed: int, ops, p4_docs_per_s) -> dict:
    """Traced run only: the same job on local[1] over the table's first
    ``prefix_n`` rows, in a new JVM. Its output checksum must equal the
    local[4] runs' prefix checksum (byte-identity across parallelism)."""
    from perfbench.jobs import JobBench

    spark = ctx.session(1)
    jb = JobBench(spark, ctx.table(wl.table, seed, wl.prefix_n), wl.prefix_n,
                  ctx.expected(wl.prefix_n), ctx.ledger, {"full": ctx.prefix_key(wl, seed)},
                  wl.prefix_n, ctx.runs_dir)
    warm = ops.run("p1-warm-cold", jb.cold)  # JIT and worker warm-up
    c = ops.run("p1-cold", jb.cold)
    runs = [r for r in (("p1-warm-cold", warm), ("p1-cold", c)) if r[1] is not None]
    m = {}
    if "p1-cold" in _checked(jb, ops, runs):
        m["parallel.p1_docs_per_s"] = c["docs"] / c["wall_s"]
        if p4_docs_per_s:
            m["parallel.scaling_efficiency"] = p4_docs_per_s / (4 * m["parallel.p1_docs_per_s"])
    return m


class _Context:
    """What a run needs besides its session: inputs, checksum ledger, a
    directory for job outputs; owns the sessions it builds and stops them."""

    def __init__(self, seed: int):
        from perfbench.checks import ChecksumLedger, load_pinned
        from perfbench.inputs import expected_counts, table_path

        self.expected = expected_counts
        self._table_path = table_path
        pinned = load_pinned() if seed == DEFAULT_SEED else {}
        self.ledger = ChecksumLedger(os.path.join(WORK, "checksums.json"), pinned)
        self.runs_dir = os.path.join(WORK, "runs", str(os.getpid()))
        self.spark = None

    def table(self, kind: str, seed: int, n: int) -> str:
        return self._table_path(WORK, kind, seed, n)

    @staticmethod
    def prefix_key(wl: Workload, seed: int) -> str:
        return f"{wl.table}-s{seed}-n{wl.prefix_n}"

    def session(self, parallelism: int):
        from intelligent_ocr_spark.session import build_session

        self.close()
        self.spark = build_session(parallelism=parallelism, extra_conf=_session_conf(WORK))
        return self.spark

    def close(self) -> None:
        if self.spark is not None:
            spark, self.spark = self.spark, None
            _stop(spark)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", type=int, default=None,
                    help="override the workload's row count (self-test only)")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    _prepare_env(WORK)
    try:
        import intelligent_ocr_spark.plans.pipeline  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench.jobs import JobBench, Ops

    wl = WORKLOADS[args.workload]
    if args.rows is not None:
        wl = Workload(wl.table, args.rows, wl.parallelism, min(wl.prefix_n, args.rows))
    ctx = _Context(args.seed)
    input_path = ctx.table(wl.table, args.seed, wl.n)
    keys = {"full": f"{wl.table}-s{args.seed}-n{wl.n}", "prefix": ctx.prefix_key(wl, args.seed)}
    ops = Ops()
    t_run = time.perf_counter()
    try:
        t0 = time.perf_counter()
        spark = ctx.session(wl.parallelism)
        setup_s = time.perf_counter() - t0
        jb = JobBench(spark, input_path, wl.n, ctx.expected(wl.n), ctx.ledger, keys,
                      wl.prefix_n, ctx.runs_dir)
        if args.trace:
            from perfbench.trace import Tracer, traced_run, write_report

            tracer = Tracer()
            metrics = traced_run(jb, tracer, ops, input_path, wl.table,
                                 lambda runs: _checked(jb, ops, runs))
            p4_docs_per_s = metrics.pop("_p4_docs_per_s", None)
            with tracer.span("parallel.p1_baseline"):
                metrics.update(_p1_baseline(ctx, wl, args.seed, ops, p4_docs_per_s))
            write_report(os.path.join(WORK, "traces"), args.workload, args.seed, metrics, tracer)
        else:
            metrics = timed_run(jb, args.seconds, ops)
            metrics["setup_s"] = setup_s
    finally:
        ctx.close()
        shutil.rmtree(ctx.runs_dir, ignore_errors=True)
    print(f"perfbench: run took {time.perf_counter() - t_run:.1f} s after input generation",
          file=sys.stderr)
    correct = ops.failed == 0
    spec = _metric_spec("per_layer" if args.trace else "end_to_end")
    absent = [m["name"] for m in spec if metrics.get(m["name"]) is None]
    if absent:
        print(f"perfbench: absent metrics: {absent}", file=sys.stderr)
    metrics = {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
               for m in spec if metrics.get(m["name"]) is not None}
    print(json.dumps({
        "correct": correct,
        "attempted": max(ops.attempted, 1),
        "failed": ops.failed if ops.attempted else 1,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
