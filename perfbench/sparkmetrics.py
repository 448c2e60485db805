"""Readers for what Spark and the host already record.

SQL metrics come from the SQL status store (the executed, AQE-final plan
graph of every execution a call started); job and task counts from the
status tracker under a per-span job group. Nothing here adds a Spark job.
"""

from __future__ import annotations

import os
import re
import time
import uuid

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_VALUE = re.compile(r"^(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> float:
    """A formatted SQL metric -> seconds, bytes or a plain number.

    Accumulated metrics read ``total (min, med, max ...)\\n<total> (...)``;
    single ones read ``<value>``.
    """
    if not text:
        return 0.0
    line = text.split("\n")[-1] if "\n" in text else text
    match = _VALUE.match(line.strip())
    if not match:
        return 0.0
    number = float(match.group(1).replace(",", ""))
    return number * _UNITS.get(match.group(2), 1.0)


def steal_ticks() -> int:
    """Hypervisor steal ticks of all CPUs (``/proc/stat`` column 8)."""
    with open("/proc/stat") as handle:
        return int(handle.readline().split()[8])


def busy_ticks() -> int:
    with open("/proc/stat") as handle:
        return sum(int(v) for v in handle.readline().split()[1:9])


def load_1m() -> float:
    return os.getloadavg()[0]


def peak_rss_mb(pid: int) -> float:
    """High-water resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as handle:
        for line in handle:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Span:
    """Wall time, Spark jobs/tasks and SQL plan metrics of one call.

    Use as a context manager around a call that runs Spark work; after
    exit, ``wall_s``, ``jobs``, ``tasks`` and ``nodes`` (a list of
    ``(execution_id, node_id, node_name, {metric: value})`` from the
    final plan of each SQL execution started inside) are set.
    """

    def __init__(self, spark, name: str) -> None:
        self.spark = spark
        self.name = name
        self.group = f"perfbench-{name}-{uuid.uuid4().hex[:8]}"
        self.nodes: list[tuple[int, int, str, dict[str, float]]] = []
        self.jobs = 0
        self.tasks = 0
        self.wall_s = 0.0
        self.steal_pct = 0.0

    def _store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _execution_ids(self) -> set[int]:
        executions = self._store().executionsList()
        return {executions.apply(i).executionId() for i in range(executions.size())}

    def __enter__(self) -> "Span":
        self._before = self._execution_ids()
        self.spark.sparkContext.setJobGroup(self.group, self.name)
        self._ticks = (steal_ticks(), busy_ticks())
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s = time.perf_counter() - self._t0
        steal = steal_ticks() - self._ticks[0]
        self.steal_pct = 100.0 * steal / max(1, busy_ticks() - self._ticks[1])
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        tracker = sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(self.group)
        self.jobs = len(job_ids)
        stages = set()
        for job_id in job_ids:
            info = tracker.getJobInfo(job_id)
            if info is not None:
                stages.update(info.stageIds)
        for stage_id in stages:
            info = tracker.getStageInfo(stage_id)
            if info is not None:
                self.tasks += info.numCompletedTasks
        store = self._store()
        for execution_id in sorted(self._execution_ids() - self._before):
            values = store.executionMetrics(execution_id)
            graph = store.planGraph(execution_id)
            nodes = graph.allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                metrics = node.metrics()
                parsed = {}
                for j in range(metrics.size()):
                    metric = metrics.apply(j)
                    value = values.get(metric.accumulatorId())
                    if value.isDefined():
                        parsed[metric.name()] = parse_metric(value.get())
                self.nodes.append((execution_id, node.id(), node.name(), parsed))

    def metric(self, node_name: str, metric: str) -> float:
        """Sum of ``metric`` over every node named ``node_name``."""
        return sum(m.get(metric, 0.0) for _, _, name, m in self.nodes if name == node_name)

    def total(self, metric: str) -> float:
        return sum(m.get(metric, 0.0) for *_, m in self.nodes)

    def by_node(self, node_name: str) -> list[dict[str, float]]:
        return [m for _, _, name, m in self.nodes if name == node_name]
