"""Benchmark-side tracing: spans around calls into the pipeline's layers.

Spans live in memory and are written once, when the run ends. A span
opened with a ``layer`` also labels the Spark jobs it starts (job group),
so per-layer job, stage and task counts come from ``statusTracker()``.
Plan-level counters (rows out of the explode, shuffle and spill bytes)
are read from the SQL metrics of an executed plan.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self, spark):
        self.run_id = uuid.uuid4().hex[:12]
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "run_id": self.run_id, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        sc = self.spark.sparkContext if layer else None
        if sc is not None:
            sc.setJobGroup(layer, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if sc is not None:
                sc.setJobGroup("", "")

    def duration(self, name: str) -> float:
        """Duration of the last span with this name."""
        rec = next(s for s in reversed(self.spans) if s["name"] == name)
        return rec["end"] - rec["start"]

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans))


def job_counts(spark, group: str) -> dict[str, int]:
    """Jobs, stages, tasks and failed tasks Spark ran under one job group."""
    tracker = spark.sparkContext.statusTracker()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
    for job_id in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(job_id)
        for stage_id in info.stageIds if info else ():
            stage = tracker.getStageInfo(stage_id)
            if stage is None:
                continue
            out["stages"] += 1
            out["tasks"] += stage.numTasks
            out["failed_tasks"] += stage.numFailedTasks
    return out


def _children(node):
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        return [node.executedPlan()]
    if name.endswith("QueryStage"):
        return [node.plan()]
    if name == "ReusedExchange":
        return []  # its data was counted where the exchange ran
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def plan_metrics(df, names: tuple[str, ...]) -> dict[str, int]:
    """Sum SQL metrics by name over the plan ``df`` last executed.

    Keys are ``<node name>.<metric name>``, e.g. ``Generate.numOutputRows``
    or ``Scan parquet.filesSize``.
    """
    out = {n: 0 for n in names}
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        node_name = node.nodeName().strip()
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            key = f"{node_name}.{kv._1()}"
            if key in out:
                out[key] += int(kv._2().value())
        todo.extend(_children(node))
    return out


def gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of the Spark JVM plus this Python process."""
    return (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb("self")) / 1024.0


def _stat_cpu_s(path: str) -> float:
    """utime + stime, in seconds, of a /proc/<pid>[/task/<tid>]/stat file."""
    with open(path) as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


class CpuClock:
    """CPU seconds (user + system) used so far by the Spark JVM and by this
    process, and the share of it the JVM's JIT compiler threads used.

    Time the hypervisor gave to other guests is not in CPU time, which
    makes it steadier than wall time on a shared host. JIT compilation is
    a third to a half of the JVM's CPU in a run of a minute; it is counted in
    ``total``, because how early code gets compiled trades compile time
    against interpreted time and only their sum is steady. HotSpot starts
    and stops compiler threads as load changes, so ``jit`` keeps each
    compiler thread's last reading after it exits.
    """

    def __init__(self, jvm_pid: int | None = None):
        self.jvm_pid = jvm_pid
        self._compilers: dict[str, float] = {}

    def total(self) -> float:
        jvm = _stat_cpu_s(f"/proc/{self.jvm_pid}/stat") if self.jvm_pid else 0.0
        return jvm + _stat_cpu_s("/proc/self/stat")

    def jit(self) -> float:
        if self.jvm_pid:
            for task in Path(f"/proc/{self.jvm_pid}/task").iterdir():
                try:
                    if "CompilerThre" in (task / "comm").read_text():
                        self._compilers[task.name] = _stat_cpu_s(str(task / "stat"))
                except OSError:  # the thread exited meanwhile
                    pass
        return sum(self._compilers.values())


def cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat (user ... steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def host_context() -> dict:
    mem = {}
    with open("/proc/meminfo") as fh:
        for line in fh:
            k, v = line.split(":", 1)
            mem[k] = int(v.split()[0])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_available_mb": mem.get("MemAvailable", 0) // 1024,
    }
