"""Spark status-store deltas around one operation.

Reads the JVM's own stores through py4j: ``AppStatusStore`` for jobs,
stages and task totals, and the SQL ``statusStore`` for the plan
graph and SQL metrics of each execution. Both are filled even with
``spark.ui.enabled=false``. The benchmark is one client running one
operation at a time, so every job and SQL execution the stores gained
between two marks belongs to the operation between them, including
jobs started from threads the library creates.

Python workers' CPU comes from ``/proc``: the JVM's descendant
processes (the ``pyspark.daemon`` and its forked workers).
"""

from __future__ import annotations

import os
import re
from typing import Any

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_PY_NODE = re.compile(r"Python|InPandas|InArrow")
_VALUE = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")
SPARK_FIELDS = (
    "jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "peak_exec_memory_bytes", "input_bytes", "input_rows",
    "python_nodes", "python_bytes_in", "python_rows_out", "files_read", "scan_s",
)


def parse_metric(text: str | None, kind: str) -> float:
    """Total of one SQL metric as the store renders it: ``'1,234'``
    (sum), ``'12.0 KiB'`` (size), ``'1.2 s'`` (timing), or the
    ``'total (min, med, max ...)\\n<total> (...)'`` form."""
    if not text:
        return 0.0
    line = text.strip().splitlines()[-1]
    m = _VALUE.match(line.strip())
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if kind == "size":
        return num * _SIZE_UNITS.get(unit, 1)
    if kind == "timing":
        return num * _TIME_UNITS.get(unit, 1e-3)
    return num


class SparkStats:
    """Marks the stores before an operation and reads the deltas."""

    def __init__(self, spark: Any):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._empty = sc._jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        proc = getattr(sc._gateway, "proc", None)
        self._jvm_pid = proc.pid if proc is not None else None
        self._tick = os.sysconf("SC_CLK_TCK")
        self._last_job = -1
        self._last_exec = -1

    def mark(self) -> None:
        """Drain the listener bus and remember the newest job and SQL
        execution, so the next :meth:`delta` sees only later ones."""
        self._jsc.listenerBus().waitUntilEmpty()
        self._last_job = max(self._job_ids(), default=self._last_job)
        self._last_exec = max(self._exec_ids(), default=self._last_exec)

    def _job_ids(self) -> list[int]:
        jl = self._store.jobsList(self._empty)
        return [jl.apply(i).jobId() for i in range(jl.size())]

    def _exec_ids(self) -> list[int]:
        el = self._sql.executionsList()
        return [el.apply(i).executionId() for i in range(el.size())]

    def delta(self, split_ms: float | None = None) -> dict[str, float]:
        """Totals over the jobs, stages and SQL executions added since
        the last :meth:`mark`, plus ``jobs_before_split``: the jobs
        submitted before the epoch milliseconds ``split_ms``."""
        self._jsc.listenerBus().waitUntilEmpty()
        out = dict.fromkeys(SPARK_FIELDS, 0.0)
        out["jobs_before_split"] = 0.0
        jobs = [j for j in self._job_ids() if j > self._last_job]
        out["jobs"] = float(len(jobs))
        for jid in jobs:
            job = self._store.job(jid)
            submitted = job.submissionTime()
            if (split_ms is not None and submitted.isDefined()
                    and submitted.get().getTime() <= split_ms):
                out["jobs_before_split"] += 1
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                self._add_stage(out, stage_ids.apply(i))
        execs = [e for e in self._exec_ids() if e > self._last_exec]
        for eid in execs:
            self._add_execution(out, eid)
        self._last_job = max(jobs, default=self._last_job)
        self._last_exec = max(execs, default=self._last_exec)
        return out

    def _add_stage(self, out: dict[str, float], stage_id: int) -> None:
        attempts = self._store.stageData(
            stage_id, False, self._empty, False, self._no_quantiles
        )
        for k in range(attempts.size()):
            s = attempts.apply(k)
            if str(s.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            out["task_run_s"] += s.executorRunTime() / 1e3
            out["task_cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["spill_bytes"] += s.diskBytesSpilled()
            out["peak_exec_memory_bytes"] = max(
                out["peak_exec_memory_bytes"], float(s.peakExecutionMemory())
            )
            out["input_bytes"] += s.inputBytes()
            out["input_rows"] += s.inputRecords()

    def _add_execution(self, out: dict[str, float], exec_id: int) -> None:
        try:
            nodes = self._sql.planGraph(exec_id).allNodes()
        except Exception:  # execution evicted or without a plan graph
            return
        values = self._sql.executionMetrics(exec_id)
        for i in range(nodes.size()):
            node = nodes.apply(i)
            name = node.name()
            is_python = bool(_PY_NODE.search(name))
            is_scan = name.startswith(("Scan ", "FileScan", "BatchScan"))
            if not (is_python or is_scan):
                continue
            out["python_nodes"] += is_python
            metrics = node.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                mname = m.name()
                opt = values.get(m.accumulatorId())
                text = opt.get() if opt.isDefined() else None
                if is_python and mname == "data sent to Python workers":
                    out["python_bytes_in"] += parse_metric(text, "size")
                elif is_python and mname == "number of output rows":
                    out["python_rows_out"] += parse_metric(text, "sum")
                elif is_scan and mname == "number of files read":
                    out["files_read"] += parse_metric(text, "sum")
                elif is_scan and mname == "scan time":
                    out["scan_s"] += parse_metric(text, "timing")

    def worker_cpu_s(self) -> float:
        """CPU seconds of the JVM's descendant processes (Python
        workers), including reaped children's."""
        if self._jvm_pid is None:
            return 0.0
        total = 0
        todo = [self._jvm_pid]
        seen = set()
        while todo:
            pid = todo.pop()
            if pid in seen:
                continue
            seen.add(pid)
            try:
                for tid in os.listdir(f"/proc/{pid}/task"):
                    with open(f"/proc/{pid}/task/{tid}/children") as f:
                        todo.extend(int(c) for c in f.read().split())
                if pid != self._jvm_pid:
                    with open(f"/proc/{pid}/stat") as f:
                        fields = f.read().rsplit(")", 1)[1].split()
                    # utime stime cutime cstime: fields 14-17 of stat,
                    # 11-14 of what follows the command name
                    total += sum(int(x) for x in fields[11:15])
            except (FileNotFoundError, ProcessLookupError):
                continue  # the process ended between listing and reading
        return total / self._tick
