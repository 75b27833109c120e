"""Per-layer counters for one benchmark call, read from Spark's status stores.

Nothing here changes the engine. ``SparkStores.mark`` is taken at each end
of a stretch of work (building a row's DataFrame, or its sink action): it
drains the listener bus and notes the next job id and the last SQL
execution id. Everything Spark started between two marks belongs to that
stretch (``SparkStores.counters``):

* jobs and their stages, from the core status store (task run, CPU and
  GC time, input, shuffle and spill counters);
* SQL executions, from the SQL status store: scanned files, written
  files and bytes, and the Python-worker metrics that Spark 4.1 puts on
  every Python/Arrow node.
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from dataclasses import dataclass, field

from py4j.protocol import Py4JError

# Display names of the SQL metrics read here (SQLMetrics / PythonSQLMetrics).
_PY_METRICS = {
    "time to run Python workers": "python.total_s",
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "data sent to Python workers": "python.bytes_sent",
}
_PY_NODE_HINTS = ("Python", "Pandas", "Arrow")
_UNITS = {
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
    "ns": 1e-9, "µs": 1e-6, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_TOTAL = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-zµ]*)")


def parse_metric(text: str) -> float:
    """A SQL metric's display string as a number in base units (bytes,
    seconds or a count). Multi-task metrics read
    ``"total (min, med, max ...)\\n12.3 MiB (...)"``; the total is used."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _TOTAL.match(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _seq(jseq) -> Iterator:
    it = jseq.iterator()
    while it.hasNext():
        yield it.next()


@dataclass
class Counters:
    """What Spark did inside one window."""

    sql_executions: int = 0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    job_intervals: list[tuple[float, float]] = field(default_factory=list)
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_fetch_wait_s: float = 0.0
    shuffle_write_bytes: float = 0.0
    shuffle_write_records: float = 0.0
    shuffle_read_bytes: float = 0.0
    spill_bytes: float = 0.0
    scan_rows: float = 0.0
    scan_bytes: float = 0.0
    scan_files: float = 0.0
    written_bytes: float = 0.0
    written_files: float = 0.0
    python: dict[str, float] = field(default_factory=dict)
    python_rows: float = 0.0


class SparkStores:
    """Handles on the running session's status stores."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext._jsc.sc()
        self._bus = sc.listenerBus()
        self._dag = sc.dagScheduler()
        self._app = sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def mark(self) -> tuple[int, int]:
        """(next job id, last SQL execution id) once every event posted so
        far has reached the stores."""
        self._bus.waitUntilEmpty()
        n = self._sql.executionsCount()
        last = -1
        if n > 0:
            last = self._sql.executionsList(int(n) - 1, 1).apply(0).executionId()
        return int(self._dag.nextJobId()), last

    def counters(self, start: tuple[int, int], end: tuple[int, int]) -> Counters:
        c = Counters()
        for job_id in range(start[0], end[0]):
            self._add_job(c, job_id)
        for exec_id in range(start[1] + 1, end[1] + 1):
            self._add_execution(c, exec_id)
        return c

    def _add_job(self, c: Counters, job_id: int) -> None:
        try:
            job = self._app.job(job_id)
        except Py4JError:  # evicted from the store or never registered
            return
        c.jobs += 1
        sub, done = job.submissionTime(), job.completionTime()
        if sub.isDefined() and done.isDefined():
            c.job_intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        for stage_id in _seq(job.stageIds()):
            try:
                st = self._app.lastStageAttempt(stage_id)
            except Py4JError:  # skipped stage: planned, never run
                continue
            c.stages += 1
            c.tasks += st.numCompleteTasks()
            c.task_run_s += st.executorRunTime() / 1e3
            c.task_cpu_s += st.executorCpuTime() / 1e9
            c.gc_s += st.jvmGcTime() / 1e3
            c.shuffle_fetch_wait_s += st.shuffleFetchWaitTime() / 1e3
            c.shuffle_write_bytes += st.shuffleWriteBytes()
            c.shuffle_write_records += st.shuffleWriteRecords()
            c.shuffle_read_bytes += st.shuffleReadBytes()
            c.spill_bytes += st.diskBytesSpilled()
            c.scan_rows += st.inputRecords()
            c.scan_bytes += st.inputBytes()

    def _add_execution(self, c: Counters, exec_id: int) -> None:
        if self._sql.execution(exec_id).isEmpty():
            return
        c.sql_executions += 1
        # keyed in Python: py4j would pass a small accumulator id back to
        # the JVM as an Integer, which misses the map's Long keys
        values = {kv._1(): kv._2() for kv in _seq(self._sql.executionMetrics(exec_id))}
        for node in _seq(self._sql.planGraph(exec_id).allNodes()):
            name = node.name()
            is_python = any(h in name for h in _PY_NODE_HINTS)
            for metric in _seq(node.metrics()):
                mname = metric.name()
                text = values.get(metric.accumulatorId())
                if text is None:
                    continue
                value = parse_metric(text)
                if mname in _PY_METRICS:
                    key = _PY_METRICS[mname]
                    c.python[key] = c.python.get(key, 0.0) + value
                elif is_python and mname == "number of output rows":
                    c.python_rows += value
                elif mname == "number of files read" and name.startswith("Scan"):
                    c.scan_files += value
                elif mname == "number of written files":
                    c.written_files += value
                elif mname == "written output":
                    c.written_bytes += value
