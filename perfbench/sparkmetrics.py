"""Read Spark's own SQL, stage and task metrics back from the status stores.

The SQL store (``sharedState().statusStore()``) holds the per-node metrics
of every SQL execution, including the Python node's "data sent to Python
workers" and "time to run Python workers"; the app store holds stage and
task metrics. Both are readable with the UI off. Values come back as
display strings ("57.6 MiB", "1.5 s", "60,000"), which :func:`parse_value`
turns into numbers. A metric that is missing or unreadable is absent
(``None``): a reader never raises into the benchmark.
"""

from __future__ import annotations

import re
import statistics
import sys

_UNITS = {
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
    "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_value(text: str | None) -> float | None:
    """Total of one formatted SQL metric, in bytes, seconds or a count."""
    if not text:
        return None
    # aggregated metrics read "total (min, med, max ...)\n<total> (...)"
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line)
    if m is None or m.group(2) not in _UNITS and m.group(2) != "":
        return None
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _warn(what: str, e: Exception) -> None:
    print(f"perfbench: {what} absent ({e.__class__.__name__}: {e})", file=sys.stderr)


class SparkMetrics:
    """Marks a point in the session and reads what ran after it."""

    def __init__(self, spark):
        self._spark = spark

    def _sql_store(self):
        return self._spark._jsparkSession.sharedState().statusStore()

    def _app_store(self):
        return self._spark.sparkContext._jsc.sc().statusStore()

    def _stage_list(self):
        # the Scala method's defaulted parameters must be passed from py4j
        jvm = self._spark._jvm
        empty = self._spark.sparkContext._gateway.new_array(jvm.double, 0)
        return self._app_store().stageList(None, False, False, empty, jvm.java.util.ArrayList())

    def mark(self) -> tuple[int, int]:
        """(SQL executions so far, highest stage id so far)."""
        try:
            n_exec = self._sql_store().executionsList().size()
        except Exception as e:  # noqa: BLE001 — metrics degrade, never crash
            _warn("SQL status store", e)
            n_exec = -1
        try:
            stages = self._stage_list()
            top = max((stages.apply(i).stageId() for i in range(stages.size())), default=-1)
        except Exception as e:  # noqa: BLE001
            _warn("stage list", e)
            top = -1
        return n_exec, top

    def sql_totals(self, since: tuple[int, int]) -> dict[str, float]:
        """Sum of each named SQL metric over executions after ``since``.

        Each accumulator is counted once (AQE re-plans list a metric under
        several plan versions)."""
        out: dict[str, float] = {}
        if since[0] < 0:
            return out
        try:
            store = self._sql_store()
            execs = store.executionsList()
            for i in range(since[0], execs.size()):
                e = execs.apply(i)
                values = store.executionMetrics(e.executionId())
                metrics = e.metrics()
                seen = set()
                for j in range(metrics.size()):
                    m = metrics.apply(j)
                    acc = m.accumulatorId()
                    if acc in seen:
                        continue
                    seen.add(acc)
                    v = values.get(acc)
                    val = parse_value(v.get()) if v.isDefined() else None
                    if val is not None:
                        out[m.name()] = out.get(m.name(), 0.0) + val
        except Exception as e:  # noqa: BLE001
            _warn("SQL metrics", e)
        return out

    def stages(self, since: tuple[int, int]) -> list:
        try:
            stages = self._stage_list()
            return [
                stages.apply(i)
                for i in range(stages.size())
                if stages.apply(i).stageId() > since[1]
            ]
        except Exception as e:  # noqa: BLE001
            _warn("stage metrics", e)
            return []

    def shuffle_write_mb(self, since) -> float | None:
        st = self.stages(since)
        if not st:
            return None
        return sum(s.shuffleWriteBytes() for s in st) / 1024.0**2

    def _busiest_stage(self, since):
        """The stage after ``since`` with the most executor run time (in a
        job run, the extract+commit stage), or ``None``."""
        st = self.stages(since)
        return max(st, key=lambda s: s.executorRunTime()) if st else None

    def busiest_stage_tasks(self, since) -> int | None:
        """Task count of the busiest stage after ``since``."""
        try:
            busiest = self._busiest_stage(since)
            return None if busiest is None else busiest.numTasks()
        except Exception as e:  # noqa: BLE001
            _warn("stage task count", e)
            return None

    def task_skew(self, since) -> float | None:
        """max / median task run time of the busiest stage after ``since``."""
        try:
            busiest = self._busiest_stage(since)
            if busiest is None:
                return None
            tasks = self._app_store().taskList(busiest.stageId(), busiest.attemptId(), 100000)
            times = []
            for i in range(tasks.size()):
                tm = tasks.apply(i).taskMetrics()
                if tm.isDefined():
                    times.append(tm.get().executorRunTime())
            med = statistics.median(times) if times else 0
            return max(times) / med if med > 0 else None
        except Exception as e:  # noqa: BLE001
            _warn("task metrics", e)
            return None
