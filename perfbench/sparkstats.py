"""The Spark layer, read from outside the package.

Job groups tag the jobs each operation (and each curation stage) runs;
``statusTracker`` turns them into job, stage and task counts. After each
operation the SQL executions it ran are read back from the session's
SQL status store and their executed-plan metrics are summed: scan rows
and time, shuffle bytes written and Python worker run time.
"""

from __future__ import annotations

import re
from collections import defaultdict

_NUM = re.compile(r"(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")
_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3, "TiB": 1024 ** 4}
_TIME_MS = {"ms": 1.0, "s": 1000.0, "m": 60_000.0, "h": 3_600_000.0, "": 1.0}

# task time inside Python workers; the "start" and "initialize" timers
# of reused workers run from the worker's first start, so they are left out
PYTHON_RUN_METRIC = "time to run Python workers"


def parse_metric(text: str) -> float:
    """Total of one SQL metric as Spark renders it: ``'1,234'``,
    ``'74.0 B'``, ``'12 ms'`` or ``'total (min, med, max ...)\\n1.0 s
    (...)'``. Sizes come back in bytes, times in milliseconds."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM.search(line)
    if m is None:
        raise ValueError(f"unparseable metric {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME_MS:
        return value * _TIME_MS[unit]
    raise ValueError(f"unknown metric unit {unit!r} in {text!r}")


class SparkProbe:
    """Job-group bookkeeping and SQL-metric harvest for one session."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._groups: list[str] = []
        self._op_groups: list[str] = []
        self._last_exec = self._max_execution_id()

    # -- job groups ---------------------------------------------------------
    def push_group(self, tag: str) -> None:
        self._groups.append(tag)
        self._op_groups.append(tag)
        self.sc.setJobGroup(tag, tag)

    def pop_group(self) -> None:
        self._groups.pop()
        tag = self._groups[-1] if self._groups else "pb-idle"
        self.sc.setJobGroup(tag, tag)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status tracker and SQL store see the finished operation."""
        self._jsc.listenerBus().waitUntilEmpty()

    def jobs(self, tag: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(tag))

    def job_counts(self, job_ids) -> tuple[int, int, int]:
        """(jobs, stages that ran tasks, tasks completed)."""
        tracker = self.sc.statusTracker()
        stages = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        n_stages = n_tasks = 0
        for s in stages:
            si = tracker.getStageInfo(s)
            if si is not None and si.numCompletedTasks > 0:
                n_stages += 1
                n_tasks += si.numCompletedTasks
        return len(job_ids), n_stages, n_tasks

    def take_op_groups(self) -> list[str]:
        out, self._op_groups = self._op_groups, []
        return out

    # -- SQL metrics --------------------------------------------------------
    def _max_execution_id(self) -> int:
        execs = self._store.executionsList()
        n = execs.size()
        return max((execs.apply(i).executionId() for i in range(n)), default=-1)

    def harvest_sql(self) -> dict:
        """Sum the executed-plan metrics of every SQL execution that
        finished since the previous harvest."""
        out: dict = defaultdict(float)
        execs = self._store.executionsList()
        newest = self._last_exec
        for i in range(execs.size()):
            e = execs.apply(i)
            eid = e.executionId()
            if eid <= self._last_exec:
                continue
            newest = max(newest, eid)
            self._add_execution(eid, out)
        self._last_exec = newest
        return out

    def _add_execution(self, eid: int, out: dict) -> None:
        values = self._store.executionMetrics(eid)
        nodes = self._store.planGraph(eid).allNodes()
        seen = set()  # a node can appear in more than one cluster of the graph
        for j in range(nodes.size()):
            node = nodes.apply(j)
            name = node.name()
            is_scan = "Scan" in name
            metrics = node.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                mname = m.name()
                if is_scan and mname == "number of output rows":
                    key = "scan_rows"
                elif is_scan and mname == "scan time":
                    key = "scan_ms"
                elif mname == "shuffle bytes written":
                    key = "shuffle_write_bytes"
                elif mname == PYTHON_RUN_METRIC:
                    key = "python_ms"
                else:
                    continue
                if m.accumulatorId() in seen:
                    continue
                seen.add(m.accumulatorId())
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    out[key] += parse_metric(v.get())
