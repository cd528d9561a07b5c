"""Counters the traced run reads from outside the engine.

Three sources, none of which needs an engine change:

- Spark's status store, read per job group after draining the listener
  bus, so a read never misses the completion events of the action that
  just returned (the async bus would otherwise credit them to the next
  read);
- JVM-global codegen counters (``CodeGenerator.compileTime``,
  ``CodegenMetrics``), each executed query's Catalyst phase times, the
  block manager's cached-RDD list and the JVM's memory in use;
- ``/proc`` for process CPU time and resident-memory high-water marks.
"""

from __future__ import annotations

import json
import os

MB = 1024.0 * 1024.0
_CLK_TCK = os.sysconf("SC_CLK_TCK")

# Summed over the stages of a job group (see SparkCounters.group), named
# as the per-layer metrics they feed.
GROUP_FIELDS = (
    "exec.jobs",
    "exec.stages",
    "exec.stages_skipped",
    "exec.tasks",
    "exec.failed_tasks",
    "exec.task_s",
    "exec.cpu_s",
    "exec.gc_s",
    "exec.spill_mb",
    "sources.input_mb",
    "sources.input_records",
    "shuffle.write_records",
    "shuffle.write_mb",
    "shuffle.read_mb",
    "shuffle.fetch_wait_s",
)


def _add_stage(acc: dict, s: dict) -> None:
    acc["exec.stages"] += 1
    acc["exec.stages_skipped"] += s["status"] == "SKIPPED"
    acc["exec.tasks"] += s["numCompleteTasks"] + s["numFailedTasks"]
    acc["exec.failed_tasks"] += s["numFailedTasks"]
    acc["exec.task_s"] += s["executorRunTime"] / 1e3
    acc["exec.cpu_s"] += s["executorCpuTime"] / 1e9
    acc["exec.gc_s"] += s["jvmGcTime"] / 1e3
    acc["exec.spill_mb"] += s["diskBytesSpilled"] / MB
    acc["sources.input_mb"] += s["inputBytes"] / MB
    acc["sources.input_records"] += s["inputRecords"]
    acc["shuffle.write_records"] += s["shuffleWriteRecords"]
    acc["shuffle.write_mb"] += s["shuffleWriteBytes"] / MB
    acc["shuffle.read_mb"] += s["shuffleReadBytes"] / MB
    acc["shuffle.fetch_wait_s"] += s["shuffleFetchWaitTime"] / 1e3


class SparkCounters:
    """Reads the status store and JVM-global counters of one session."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = spark._jvm
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._tracker = sc.statusTracker()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self._no_status = jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._compiles = metrics.METRIC_COMPILATION_TIME()
        self._counted_stages: set[int] = set()
        self.jvm_pid = int(jvm.ProcessHandle.current().pid())

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def drain(self) -> None:
        """Block until every posted listener event has been processed."""
        self._jsc.listenerBus().waitUntilEmpty()

    def group(self, group_id: str) -> dict:
        """Sum the stage metrics of every job run under ``group_id``.

        Each stage id is attributed to the first group read that holds
        it, so a stage shared by two groups is never counted twice."""
        acc = dict.fromkeys(GROUP_FIELDS, 0)
        for job_id in self._tracker.getJobIdsForGroup(group_id):
            acc["exec.jobs"] += 1
            for sid in self._json(self._store.job(job_id))["stageIds"]:
                if sid in self._counted_stages:
                    continue
                self._counted_stages.add(sid)
                for attempt in self._stage(sid):
                    _add_stage(acc, attempt)
        return acc

    def _stage(self, stage_id: int) -> list[dict]:
        return self._json(
            self._store.stageData(stage_id, False, self._no_status, False, self._no_quantiles)
        )

    def stages(self) -> list[dict]:
        """Every retained stage attempt (for whole-pass totals)."""
        return self._json(
            self._store.stageList(
                self._no_status, False, False, self._no_quantiles, self._no_status
            )
        )

    def codegen(self) -> tuple[int, float]:
        """(classes compiled, compile ms) since JVM start."""
        return int(self._compiles.getCount()), self._codegen.compileTime() / 1e6

    def cached(self) -> tuple[float, int]:
        """(MB held by cached RDDs, number of cached RDDs) right now."""
        held, n = 0, 0
        for info in self._jsc.getRDDStorageInfo():
            if info.numCachedPartitions() > 0:
                n += 1
                held += info.memSize() + info.diskSize()
        return held / MB, n


def catalyst_ms(qe) -> dict:
    """Analysis/optimization/planning ms of one JVM ``QueryExecution``."""
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        ph = phases.get(name)
        out[name] = float(ph.get().durationMs()) if ph.isDefined() else 0.0
    return out


def jvm_live_mb(jvm) -> float:
    """JVM memory in use right after a full GC: live heap plus non-heap
    (metaspace, code cache), MB. Unlike the resident set, this does not
    depend on how much of a fixed heap the collector has touched."""
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    mx.gc()
    return (mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()) / MB


def _stat(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat(int(name))[1])
        except (OSError, IndexError, ValueError):
            continue  # exited while listing
        kids.setdefault(ppid, []).append(int(name))
    return kids


def proc_cpu(jvm_pid: int) -> dict:
    """CPU seconds so far of this driver, the JVM, and the JVM's child
    processes (the Python daemon and workers, reaped ones included)."""
    t = os.times()
    jvm = _stat(jvm_pid)
    kids = _children()
    workers = 0
    todo = list(kids.get(jvm_pid, ()))
    while todo:
        pid = todo.pop()
        try:
            f = _stat(pid)
        except OSError:
            continue
        workers += sum(int(x) for x in f[11:15])
        todo.extend(kids.get(pid, ()))
    return {
        "driver": t.user + t.system,
        "jvm": (int(jvm[11]) + int(jvm[12])) / _CLK_TCK,
        "pyworker": workers / _CLK_TCK,
    }


def hwm_mb(pid: int | str = "self") -> float:
    """Resident-memory high-water mark of a process, MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
