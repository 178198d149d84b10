"""Per-layer tracing from outside the program.

Two sources, neither of which changes the program:

- ``Spans`` times calls into a module's public functions by swapping the
  module attribute for a timing wrapper for the duration of a ``with``
  block (the callers look the name up in the module at call time).
- ``SparkWindow`` reads Spark's own accounting for every SQL execution and
  job that ran inside a window: the per-node SQL metrics from the shared
  SQL status store (available with ``spark.ui.enabled=false``) and the
  per-stage and per-task records from the application status store.
"""

from __future__ import annotations

import math
import re
import statistics
import time
from collections import defaultdict

_UNIT_SECONDS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_UNIT_BYTES = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


class Spans:
    """Timing wrappers around named module functions.

    ``records`` holds ``(name, start, end)`` in call order, wall-clock
    ``time.perf_counter`` seconds."""

    def __init__(self, module, names: tuple[str, ...]):
        self.module = module
        self.names = names
        self.records: list[tuple[str, float, float]] = []
        self._saved: dict[str, object] = {}

    def _wrap(self, name, fn):
        def timed(*args, **kwargs):
            start = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.records.append((name, start, time.perf_counter()))
        return timed

    def __enter__(self) -> Spans:
        for name in self.names:
            fn = getattr(self.module, name)
            self._saved[name] = fn
            setattr(self.module, name, self._wrap(name, fn))
        return self

    def __exit__(self, *exc) -> None:
        for name, fn in self._saved.items():
            setattr(self.module, name, fn)
        self._saved.clear()

    def total(self, name: str) -> float:
        return sum(end - start for n, start, end in self.records if n == name)

    def starts(self, name: str) -> list[float]:
        return [start for n, start, _ in self.records if n == name]


def metric_value(text: str | None) -> float:
    """A formatted SQL metric → seconds, bytes or a count.  Multi-task
    metrics read ``total (min, med, max ...)\\n<total> (...)``; the total is
    taken."""
    if not text:
        return 0.0
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line)
    if m is None:
        raise ValueError(f"unparsed SQL metric {text!r}")
    number, unit = float(m.group(1).replace(",", "")), m.group(2)
    if unit in _UNIT_SECONDS:
        return number * _UNIT_SECONDS[unit]
    if unit in _UNIT_BYTES:
        return number * _UNIT_BYTES[unit]
    if unit:
        raise ValueError(f"unknown SQL metric unit in {text!r}")
    return number


class SparkWindow:
    """Spark's accounting for the SQL executions and jobs that start
    between ``__enter__`` and ``__exit__``.  Read it after the window
    closes, outside any timed region."""

    def __init__(self, spark):
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.app_store = spark.sparkContext._jsc.sc().statusStore()
        self.tracker = spark.sparkContext.statusTracker()

    def _execution_ids(self) -> set[int]:
        execs = self.sql_store.executionsList()
        return {execs.apply(i).executionId() for i in range(execs.size())}

    def __enter__(self) -> SparkWindow:
        self._execs_before = self._execution_ids()
        self._jobs_before = set(self.tracker.getJobIdsForGroup(None))
        return self

    def __exit__(self, *exc) -> None:
        self.execution_ids = sorted(self._execution_ids() - self._execs_before)
        self.job_ids = sorted(set(self.tracker.getJobIdsForGroup(None)) - self._jobs_before)

    def executions(self, timeout_s: float = 30.0) -> list[dict]:
        """Per execution: wall seconds and ``(node, metric) → value``
        summed over nodes of the same name.  Waits for the listener bus to
        deliver every execution's end event."""
        deadline = time.monotonic() + timeout_s
        out = []
        for eid in self.execution_ids:
            while True:
                data = self.sql_store.execution(eid)
                if data.isDefined() and data.get().completionTime().isDefined():
                    break
                if time.monotonic() > deadline:
                    raise TimeoutError(f"SQL execution {eid} never completed")
                time.sleep(0.05)
            data = data.get()
            values = self.sql_store.executionMetrics(eid)
            nodes = self.sql_store.planGraph(eid).allNodes()
            metrics: dict[tuple[str, str], float] = defaultdict(float)
            for i in range(nodes.size()):
                node = nodes.apply(i)
                node_metrics = node.metrics()
                for j in range(node_metrics.size()):
                    sm = node_metrics.apply(j)
                    v = values.get(sm.accumulatorId())
                    if sm.metricType() == "average" or not v.isDefined():
                        continue
                    metrics[(node.name().strip(), sm.name())] += metric_value(v.get())
            out.append({
                "id": eid,
                "wall_s": (data.completionTime().get().getTime() - data.submissionTime()) / 1e3,
                "stages": sorted(int(s) for s in _scala_ints(data.stages())),
                "metrics": metrics,
            })
        return out

    def stages(self, stage_ids) -> list[dict]:
        """Last attempt of each stage that ran: task count, failures, and
        per-task durations and records read."""
        out = []
        for sid in stage_ids:
            sd = self.app_store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            tasks = self.app_store.taskList(sid, sd.attemptId(), 1 << 20)
            durations, records = [], []
            for i in range(tasks.size()):
                t = tasks.apply(i)
                if t.duration().isDefined():
                    durations.append(t.duration().get() / 1e3)
                if t.taskMetrics().isDefined():
                    records.append(t.taskMetrics().get().inputMetrics().recordsRead())
            out.append({
                "id": sid,
                "tasks": sd.numCompleteTasks(),
                "failed_tasks": sd.numFailedTasks(),
                "run_s": sd.executorRunTime() / 1e3,
                "task_s": durations,
                "records_read": records,
            })
        return out

    def job_stage_ids(self) -> list[int]:
        ids = set()
        for jid in self.job_ids:
            info = self.tracker.getJobInfo(jid)
            if info is not None:
                ids.update(info.stageIds)
        return sorted(ids)


def _scala_ints(scala_set) -> list[int]:
    it = scala_set.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def node_sum(executions: list[dict], node_prefix: str, metric: str) -> float:
    return sum(
        v for e in executions for (node, name), v in e["metrics"].items()
        if node.startswith(node_prefix) and name == metric
    )


def metric_sum(executions: list[dict], metric: str) -> float:
    return sum(v for e in executions for (_, name), v in e["metrics"].items() if name == metric)


def arrow_batches(records_read: list[int], max_records_per_batch: int) -> int:
    """Arrow batches a Python UDF stage sends: each task cuts its rows into
    batches of at most ``maxRecordsPerBatch``."""
    return sum(math.ceil(r / max_records_per_batch) for r in records_read if r > 0)


def task_skew(stages: list[dict]) -> float:
    """max / median task duration of the stage with the most executor time."""
    heavy = max((s for s in stages if s["task_s"]), key=lambda s: s["run_s"], default=None)
    if heavy is None:
        return 0.0
    med = statistics.median(heavy["task_s"])
    return max(heavy["task_s"]) / med if med > 0 else 0.0
