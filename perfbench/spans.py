"""Spans recorded by the benchmark around its calls into the library.

Every span has a name, a start and an end (seconds since the recorder was
made), the CPU-seconds the process tree burned inside it, the id of the
span that encloses it and the cycle it belongs to.  Spans are kept in
memory and written out once, when the run ends.

Two kinds of span:

- ``phase``: a cycle, or set-up.  Wall and CPU only.
- ``call``: one call into a layer of the library, named
  ``<module>.<call>``, timed through materialization.  In a traced run it
  also sets a Spark job group for the call and reads back, from the
  driver's status stores, the jobs the group ran, their shuffle bytes and
  the SQL metric "data sent to Python workers".  Jobs are found by group,
  never by differencing the job list: the status store keeps only the
  last 1,000 jobs, so list lengths stop growing once it is full.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager

from proctree import tree_cpu_seconds

_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_PY_SENT = re.compile(r"SQLPlanMetric\(data sent to Python workers,(\d+),")
_JOB_IDS = re.compile(r"(\d+) -> ")


class Recorder:
    def __init__(self, traced: bool):
        self.traced = traced
        self.spans: list[dict] = []
        self.spark = None
        self._t0 = time.perf_counter()
        self._stack: list[int] = []
        self._groups = 0

    def attach(self, spark) -> None:
        """Spark counts are read from this session from now on."""
        self.spark = spark

    @contextmanager
    def phase(self, name: str, cycle):
        with self._span(name, cycle, "phase", counted=False) as rec:
            yield rec

    @contextmanager
    def call(self, name: str, cycle):
        counted = self.traced and self.spark is not None
        with self._span(name, cycle, "call", counted) as rec:
            yield rec

    @contextmanager
    def _span(self, name, cycle, kind, counted):
        rec = {
            "id": len(self.spans),
            "name": name,
            "kind": kind,
            "cycle": cycle,
            "parent": self._stack[-1] if self._stack else None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        group = None
        if counted:
            self._groups += 1
            group = f"perfbench-{self._groups}"
            first_execution = self._last_execution() + 1
            self.spark.sparkContext.setJobGroup(group, name)
        cpu0 = tree_cpu_seconds()
        rec["start"] = time.perf_counter() - self._t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            rec["cpu_s"] = tree_cpu_seconds() - cpu0
            rec["s"] = rec["end"] - rec["start"]
            self._stack.pop()
            if group is not None:
                sc = self.spark.sparkContext
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                # the status stores are filled from Spark's asynchronous
                # listener bus: let it drain before reading them
                sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
                rec.update(self._spark_counts(group, first_execution))

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _last_execution(self) -> int:
        sql = self._sql_store()
        n = sql.executionsCount()
        return sql.executionsList(n - 1, 1).apply(0).executionId() if n else -1

    def _spark_counts(self, group: str, first_execution: int) -> dict:
        sc = self.spark.sparkContext
        jobs = sorted(sc.statusTracker().getJobIdsForGroup(group))
        store = sc._jsc.sc().statusStore()
        shuffle = 0
        for jid in jobs:
            info = sc.statusTracker().getJobInfo(jid)
            for sid in info.stageIds if info else ():
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - stage evicted from the store
                    continue
                shuffle += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
        return {
            "jobs": len(jobs),
            "shuffle_bytes": shuffle,
            "python_bytes": self._python_bytes(set(jobs), first_execution),
        }

    def _python_bytes(self, jobs: set[int], first_execution: int) -> int:
        """Sum of the "data sent to Python workers" SQL metric over the SQL
        executions, started inside the span, that ran any of ``jobs``.

        The per-execution totals the status store keeps are used, not the
        accumulators' own values: a plan that scans a persisted frame also
        lists the metrics of the plan that built it, whose accumulators
        still hold the bytes of that earlier build.  Plan metrics and job
        maps are read as one string each: a py4j call per metric would
        cost more than some of the calls being measured."""
        if not jobs:
            return 0
        sql = self._sql_store()
        n = sql.executionsCount()
        tail = sql.executionsList(max(0, n - 256), 256)
        total = 0
        for i in range(tail.size() - 1, -1, -1):
            ex = tail.apply(i)
            if ex.executionId() < first_execution:
                break
            if not jobs & {int(j) for j in _JOB_IDS.findall(ex.jobs().toString())}:
                continue
            values = sql.executionMetrics(ex.executionId())
            for acc_id in set(map(int, _PY_SENT.findall(ex.metrics().toString()))):
                if values.contains(acc_id):
                    total += parse_size(values.get(acc_id).get())
        return total

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def parse_size(text: str) -> int:
    """Bytes from Spark's rendered size metric: either a bare ``12.3 KiB``
    or ``total (min, med, max ...)\\n12.3 KiB (...)``."""
    line = text.split("\n")[-1]
    m = re.match(r"\s*([0-9.]+)\s*([KMGT]?i?B)", line)
    if not m:
        return 0
    return int(round(float(m.group(1)) * _SIZE_UNITS[m.group(2)]))
