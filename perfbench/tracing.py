"""Spans and per-layer counters for the traced run.

The tracer wraps the engine's public entry points from outside: the job
group is set before each phase of a key (release, build, run), and
``plans.caching.release_scoped_caches`` and ``sources.tables.table`` are
replaced, for the life of the process, by timing wrappers in every
engine module that holds them. A ``QueryExecutionListener`` registered
on the session gives the Catalyst phase times of every query the key
executes, in its build and in its consuming action. No engine file
changes.

Spans nest pass -> key -> {release, build, run} and share the run id.
They stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import sys
import time

from pyspark.java_gateway import ensure_callback_server_started

from counters import GROUP_FIELDS, SparkCounters, catalyst_ms

# Per-layer metrics of one pass, in BENCHMARK.json order: (name, unit).
LAYER_METRICS = (
    ("registry.build_s", "s"),
    ("registry.build_jobs", "count"),
    ("registry.build_task_s", "s"),
    ("caching.release_s", "s"),
    ("caching.held_mb", "MB"),
    ("caching.cached_rdds", "count"),
    ("sources.scan_s", "s"),
    ("sources.input_mb", "MB"),
    ("sources.input_records", "count"),
    ("catalyst.analysis_ms", "ms"),
    ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("catalyst.queries", "count"),
    ("codegen.classes", "count"),
    ("codegen.compile_ms", "ms"),
    ("exec.jobs", "count"),
    ("exec.stages", "count"),
    ("exec.stages_skipped", "count"),
    ("exec.tasks", "count"),
    ("exec.failed_tasks", "count"),
    ("exec.task_s", "s"),
    ("exec.cpu_s", "s"),
    ("exec.gc_s", "s"),
    ("exec.spill_mb", "MB"),
    ("exec.occupancy", "ratio"),
    ("shuffle.write_records", "count"),
    ("shuffle.write_mb", "MB"),
    ("shuffle.read_mb", "MB"),
    ("shuffle.fetch_wait_s", "s"),
    ("driver.run_s", "s"),
    ("driver.result_rows", "count"),
    ("proc.jvm_cpu_s", "s"),
    ("proc.pyworker_cpu_s", "s"),
)

# Per-key values that are maxima over a pass; the others add up.
_MAX_KEYS = ("caching.held_mb", "caching.cached_rdds")

PHASES = ("release", "build", "run")
CATALYST = ("analysis", "optimization", "planning")


class _QueryListener:
    """``QueryExecutionListener`` implemented in Python over py4j. Spark
    calls it on the listener bus after each query execution ends, so a
    drained bus has delivered every query of the key."""

    def __init__(self, tracer: "Tracer") -> None:
        self._tracer = tracer

    def onSuccess(self, func_name, qe, duration_ns) -> None:  # noqa: N802
        self._tracer.on_query(qe)

    def onFailure(self, func_name, qe, exception) -> None:  # noqa: N802
        self._tracer.on_query(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    def __init__(self, spark, pkg: str, workload: str, run_id: str, cores: int) -> None:
        self.counters = SparkCounters(spark)
        self._sc = spark.sparkContext
        self._workload = workload
        self._run_id = run_id
        self._cores = cores
        self._t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._prefix = ""
        self._phase = ""
        self._release_s = 0.0
        self._scan_s = 0.0
        self._release_spans: list[tuple[float, float]] = []
        self._queries: list = []
        self.active = False
        self._patch(pkg)
        ensure_callback_server_started(self._sc._gateway)
        self._identity = spark._jvm.java.lang.System.identityHashCode
        self._listener = _QueryListener(self)
        spark._jsparkSession.listenerManager().register(self._listener)

    # -- entry-point wrappers -------------------------------------------
    def _patch(self, pkg: str) -> None:
        caching = sys.modules[f"{pkg}.plans.caching"]
        tables = sys.modules[f"{pkg}.sources.tables"]
        release, table = caching.release_scoped_caches, tables.table

        def traced_release() -> None:
            if not self.active:
                return release()
            outer = self._phase
            self.set_phase("release")
            t = time.perf_counter()
            try:
                release()
            finally:
                end = time.perf_counter()
                self._release_s += end - t
                self._release_spans.append((t, end))
                self.set_phase(outer)

        def traced_table(spark, sf_dir, name):
            if not self.active:
                return table(spark, sf_dir, name)
            t = time.perf_counter()
            try:
                return table(spark, sf_dir, name)
            finally:
                self._scan_s += time.perf_counter() - t

        caching.release_scoped_caches = traced_release
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "")
            if name.startswith(pkg) and getattr(mod, "table", None) is table:
                mod.table = traced_table

    def on_query(self, qe) -> None:
        """Keep an executed query of the current key. Its phase times
        are read when the key ends, not on Spark's listener thread."""
        if self.active:
            self._queries.append(qe)

    def _catalyst(self) -> dict:
        """Phase times summed over the key's executed queries, each
        ``QueryExecution`` once (one frame can run several actions)."""
        out = {f"catalyst.{name}_ms": 0.0 for name in CATALYST}
        seen = set()
        for qe in self._queries:
            ident = self._identity(qe)
            if ident not in seen:
                seen.add(ident)
                for name, ms in catalyst_ms(qe).items():
                    out[f"catalyst.{name}_ms"] += ms
        out["catalyst.queries"] = len(seen)
        self._queries = []
        return out

    def set_phase(self, phase: str) -> None:
        self._phase = phase
        if phase:
            self._sc.setJobGroup(self.group_id(phase), phase)
        else:
            self._sc.setLocalProperty("spark.jobGroup.id", None)

    def group_id(self, phase: str) -> str:
        return f"{self._prefix}/{phase}"

    # -- spans -------------------------------------------------------------
    def span(self, name: str, parent: int | None, start: float, end: float, **attrs) -> int:
        span_id = len(self.spans)
        self.spans.append(
            {
                "run_id": self._run_id,
                "span_id": span_id,
                "parent": parent,
                "name": name,
                "start_s": round(start - self._t0, 6),
                "end_s": round(end - self._t0, 6),
                **attrs,
            }
        )
        return span_id

    def finish(self, span_id: int) -> None:
        self.spans[span_id]["end_s"] = round(time.perf_counter() - self._t0, 6)

    # -- one key -----------------------------------------------------------
    def begin_key(self, pass_name: str, key: str) -> None:
        self._prefix = f"{self._workload}/{self._run_id}/{pass_name}/{key}"
        self._release_s = self._scan_s = 0.0
        self._release_spans = []
        self._queries = []
        self._codegen0 = self.counters.codegen()

    def end_key(self, parent: int, key: str, module: str, rec: dict) -> dict:
        """Read the key's counters (after draining the listener bus),
        record its spans and return its per-layer record."""
        self.set_phase("")
        self.counters.drain()
        groups = {ph: self.counters.group(self.group_id(ph)) for ph in PHASES}
        classes, compile_ms = self.counters.codegen()
        held_mb, cached_rdds = self.counters.cached()
        out = {f: sum(groups[ph][f] for ph in PHASES) for f in GROUP_FIELDS}
        out.update(
            {
                "registry.build_s": rec["build_s"] - self._release_s,
                "registry.build_jobs": groups["build"]["exec.jobs"],
                "registry.build_task_s": groups["build"]["exec.task_s"],
                "caching.release_s": self._release_s,
                "caching.held_mb": held_mb,
                "caching.cached_rdds": cached_rdds,
                "sources.scan_s": self._scan_s,
                "codegen.classes": classes - self._codegen0[0],
                "codegen.compile_ms": compile_ms - self._codegen0[1],
                "driver.run_s": rec["run_s"],
                "driver.result_rows": len(rec["rows"]),
            }
        )
        out.update(self._catalyst())
        key_span = self.span(
            "key", parent, rec["start"], rec["end"], key=key, module=module, counters=out
        )
        phase_spans = [("release", a, b) for a, b in self._release_spans]
        phase_spans.append(("build", rec["start"], rec["build_end"]))
        phase_spans.append(("run", rec["build_end"], rec["end"]))
        for phase, start, end in phase_spans:
            group = self.group_id(phase)
            self.span(phase, key_span, start, end, group=group, counters=groups[phase])
        return out

    # -- one pass ------------------------------------------------------------
    def pass_totals(self, per_key: list[dict], busy_s: float, cpu0: dict, cpu1: dict) -> dict:
        out = {name: 0.0 for name, _ in LAYER_METRICS}
        for rec in per_key:
            for name, value in rec.items():
                if name in _MAX_KEYS:
                    out[name] = max(out[name], value)
                else:
                    out[name] += value
        out["exec.occupancy"] = out["exec.task_s"] / (busy_s * self._cores) if busy_s else 0.0
        out["proc.jvm_cpu_s"] = cpu1["jvm"] - cpu0["jvm"]
        out["proc.pyworker_cpu_s"] = cpu1["pyworker"] - cpu0["pyworker"]
        return out

    def stage_task_s(self, after_stage: int) -> tuple[float, int]:
        """(summed executor run time, highest stage id) of every retained
        stage with an id above ``after_stage``: the pass total that the
        per-key attribution must add up to."""
        self.counters.drain()
        task_s, top = 0.0, after_stage
        for s in self.counters.stages():
            top = max(top, s["stageId"])
            if s["stageId"] > after_stage:
                task_s += s["executorRunTime"] / 1e3
        return task_s, top
