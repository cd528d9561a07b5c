"""The engine's end-to-end benchmark.

One workload per process, one client, closed loop: for each key, build
the DataFrame through the registry (``registry.queries()[key](spark,
dir)``), consume it with ``collect()``, then go to the next key. The
first pass over the keys runs in the fresh session (cold); later passes
run until ``--seconds`` have passed since the cold pass began (warm).
``--seed`` permutes the key order of every pass; the engine receives
only the fixed fixture tables under ``perfbench/fixtures/``.
After the timed passes every collected result is checked against its
DuckDB oracle (``check.py``).

    python3 perfbench/run.py --workload headline --seed 1 --seconds 20 --trace 0

Run it from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
passes are traced (``tracing.py``) and the metrics are the per-layer ones
for the cold and the warm pass, plus the tracing overhead. Every run
writes a record (seed, key orders, host, Spark conf, per-key times,
failures, and with tracing the spans) under ``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import random
import statistics
import sys
import tempfile
import time
import uuid

from check import Checker
from counters import hwm_mb, jvm_live_mb, proc_cpu
from tracing import LAYER_METRICS, Tracer

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PKG = "movierecommender_sentimentanalysissytem_spark"
FIXTURE_DIR = os.path.join(BENCH_DIR, "fixtures")
WORK_DIR = os.path.join(BENCH_DIR, "work")
OUT_DIR = os.path.join(BENCH_DIR, "out")
# No warm pass starts that is expected to end later than this many
# seconds after process start, so a run always exits well within 180 s.
DEADLINE_S = 140.0

# The recommender core: the CF pair kernel (item-item cosine), the
# association rules that share its pair generator and run jobs inside
# their build, and MLlib ALS. README.md says why dimsum and
# ml_eval_rmse are left out.
RECSYS = ("rec_item_similarity", "rec_association_rules", "ml_als_recommend")

# Workload -> scale factor of its fixture tables.
SCALE = {"headline": 0.001, "recsys": 0.01}

# Keys with no SQL oracle: (dtypes, row count) of their output on the
# sf0.01 fixtures.
ROWS_ONLY = {
    "ml_als_recommend": ([["user", "int"], ["rec_rank", "int"], ["item", "int"]], 7500),
}


def _process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def workload_keys(name: str) -> tuple[str, ...]:
    if name == "headline":
        import bench

        return tuple(bench.HEADLINE)
    return RECSYS


def host() -> dict:
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return {"nproc": len(os.sched_getaffinity(0)), "ram_mb": ram_mb}


def start_session(cores: int, ram_mb: int):
    """``local[cores]`` with the plan-affecting settings of ``bench.py``
    (AQE, 16m splits, UTC, shuffle partitions = cores). The driver heap
    is an eighth of host RAM (1-16 GB). Scratch space stays in
    ``perfbench/work``."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(WORK_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap_mb = max(1024, min(16384, ram_mb // 8))
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", f"{heap_mb}m")
        # A fixed heap, as Spark gives its executors, so that times do
        # not depend on when G1 chooses to grow it.
        # No perf-data file, which the JVM would put in /tmp.
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{heap_mb}m -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        )
        .config("spark.local.dir", os.path.join(WORK_DIR, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(WORK_DIR, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # Status-store retention only (no effect on plans): the traced
        # run reads every stage of the run back by id.
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python daemon)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run_key(qs, spark, sf_dir: str, key: str, tracer=None) -> dict:
    """Build then consume one key; returns its record."""
    rec = {"key": key, "rows": [], "error": None}
    rec["start"] = rec["build_end"] = time.perf_counter()
    try:
        if tracer:
            tracer.set_phase("build")
        df = qs[key](spark, sf_dir)
        rec["build_end"] = time.perf_counter()
        if tracer:
            tracer.set_phase("run")
        rec["rows"] = df.collect()
    except Exception as exc:  # noqa: BLE001 — a failing key is counted, not fatal
        rec["error"] = f"{type(exc).__name__}: {exc}"[:2000]
    rec["end"] = time.perf_counter()
    rec["build_s"] = rec["build_end"] - rec["start"]
    rec["run_s"] = rec["end"] - rec["build_end"]
    rec["wall_s"] = rec["end"] - rec["start"]
    if rec["error"] is None:
        rec["columns"], rec["dtypes"] = df.columns, df.dtypes
    return rec


def run_pass(ctx: dict, name: str, order: list[str], tracer=None) -> dict:
    """One pass over ``order``. With a tracer, also the per-layer record
    of every key and of the pass, and the attribution self-test."""
    spark, qs, sf_dir, jvm_pid = ctx["spark"], ctx["qs"], ctx["sf_dir"], ctx["jvm_pid"]
    if tracer:
        _, last_stage = tracer.stage_task_s(-1)
        now = time.perf_counter()
        pass_span = tracer.span("pass", None, now, now, pass_name=name)
        tracer.active = True
    cpu0 = proc_cpu(jvm_pid)
    t0 = time.perf_counter()
    recs, layers = [], []
    for key in order:
        if tracer:
            tracer.begin_key(name, key)
        rec = run_key(qs, spark, sf_dir, key, tracer)
        if tracer:
            layers.append(tracer.end_key(pass_span, key, ctx["modules"][key], rec))
        recs.append(rec)
    wall = time.perf_counter() - t0
    cpu1 = proc_cpu(jvm_pid)
    out = {
        "name": name,
        "order": list(order),
        "wall_s": wall,
        "cpu_s": sum(cpu1[k] - cpu0[k] for k in cpu0),
        "records": recs,
    }
    if tracer:
        tracer.active = False
        busy = sum(r["wall_s"] for r in recs)
        out["layers"] = tracer.pass_totals(layers, busy, cpu0, cpu1)
        total_task_s, _ = tracer.stage_task_s(last_stage)
        keyed = sum(layer["exec.task_s"] for layer in layers)
        out["selftest"] = {
            "pass_task_s": total_task_s,
            "sum_key_task_s": keyed,
            "ok": abs(total_task_s - keyed) <= 1e-6 * max(1.0, total_task_s),
        }
        tracer.finish(pass_span)
    out["jvm_live_mb"] = jvm_live_mb(spark._jvm)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    proc_t0 = time.perf_counter() - _process_age_s()

    if not os.path.isfile(os.path.join(ROOT, PKG, "registry.py")):
        print(f"perfbench: engine package {PKG!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.append(ROOT)
    keys = workload_keys(args.workload)

    sf_dir = os.path.join(FIXTURE_DIR, f"sf{SCALE[args.workload]:g}")
    if not os.path.isdir(sf_dir):
        print(f"perfbench: fixture tables not found in {sf_dir}", file=sys.stderr)
        return 2

    # Python workers import the engine; scratch files stay in the checkout.
    tmp = os.path.join(WORK_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

    hw = host()
    spark = start_session(hw["nproc"], hw["ram_mb"])
    session_s = time.perf_counter() - proc_t0
    try:
        return _run(args, spark, keys, sf_dir, hw, proc_t0, session_s)
    finally:
        stop_session(spark)


def _run(args, spark, keys, sf_dir, hw, proc_t0, session_s) -> int:
    registry = importlib.import_module(f"{PKG}.registry")
    tables = importlib.import_module(f"{PKG}.sources.tables")

    qs = registry.queries()
    scan_s = {}
    for name in tables.TABLES:
        t = time.perf_counter()
        tables.table(spark, sf_dir, name).count()
        scan_s[name] = time.perf_counter() - t
    setup_s = time.perf_counter() - proc_t0
    setup_live_mb = jvm_live_mb(spark._jvm)

    run_id = uuid.uuid4().hex[:12]
    ctx = {
        "spark": spark,
        "qs": qs,
        "sf_dir": sf_dir,
        "jvm_pid": int(spark._jvm.ProcessHandle.current().pid()),
        "modules": {k: getattr(qs[k], "__wrapped__", qs[k]).__module__ for k in keys},
    }
    tracer = Tracer(spark, PKG, args.workload, run_id, hw["nproc"]) if args.trace else None

    rng = random.Random(args.seed)

    def order() -> list[str]:
        o = list(keys)
        rng.shuffle(o)
        return o

    t_cold = time.perf_counter()
    cold = run_pass(ctx, "cold", order(), tracer)
    # With tracing, every traced warm pass sits between two untraced
    # ones; its overhead is its wall minus the mean of theirs.
    warm, warm_traced = [], []
    timeline = [cold]
    while True:
        t = time.perf_counter()
        if tracer and warm:
            warm_traced.append(run_pass(ctx, f"warm{len(timeline)}t", order(), tracer))
            timeline.append(warm_traced[-1])
        warm.append(run_pass(ctx, f"warm{len(timeline)}", order()))
        timeline.append(warm[-1])
        now = time.perf_counter()
        if tracer and not warm_traced:
            continue
        if now - t_cold >= args.seconds or now - proc_t0 + (now - t) > DEADLINE_S:
            break
    # JVM memory after a full GC at the end of set-up and of every pass,
    # plus the driver Python's resident high-water mark (imports and
    # collected rows), read before the output check.
    peak_mem_mb = max([setup_live_mb] + [p["jvm_live_mb"] for p in timeline]) + hwm_mb()

    checker = Checker(ROOT, sf_dir, tables.TABLES, registry.oracle_sql(), ROWS_ONLY)
    failures = []
    attempted = 0
    try:
        for p in timeline:
            for rec in p["records"]:
                attempted += 1
                if rec["error"] is None:
                    ok, msg = checker.check(rec["key"], rec["rows"], rec["columns"], rec["dtypes"])
                else:
                    ok, msg = False, rec["error"]
                if not ok:
                    failures.append({"pass": p["name"], "key": rec["key"], "why": msg})
    finally:
        checker.close()

    correct = not failures
    selftests = [p["selftest"] for p in timeline if "selftest" in p]
    if not all(s["ok"] for s in selftests):
        correct = False
        print(f"perfbench: FAIL task-time attribution self-test: {selftests}", file=sys.stderr)
    if tracer:
        metrics = {}
        traced = {"cold": [cold["layers"]], "warm": [p["layers"] for p in warm_traced]}
        for phase, layer_list in traced.items():
            for name, unit in LAYER_METRICS:
                value = statistics.median(layer[name] for layer in layer_list)
                metrics[f"{phase}.{name}"] = {"value": value, "unit": unit}
        overhead = statistics.median(
            p["wall_s"] - (warm[i]["wall_s"] + warm[i + 1]["wall_s"]) / 2
            for i, p in enumerate(warm_traced)
        )
        metrics["trace.overhead_s"] = {"value": overhead, "unit": "s"}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "cold_pass_s": {"value": cold["wall_s"], "unit": "s"},
            "warm_pass_s": {"value": statistics.median(p["wall_s"] for p in warm), "unit": "s"},
            "warm_pass_cpu_s": {"value": statistics.median(p["cpu_s"] for p in warm), "unit": "s"},
            "peak_mem_mb": {"value": peak_mem_mb, "unit": "MB"},
            "verified_share": {"value": 1.0 - len(failures) / attempted, "unit": "ratio"},
        }

    record = {
        "run_id": run_id,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "sf": SCALE[args.workload],
        "host": hw,
        "spark_conf": dict(spark.sparkContext.getConf().getAll()),
        "setup": {
            "setup_s": setup_s,
            "session_s": session_s,
            "scan_s": scan_s,
            "jvm_live_mb": setup_live_mb,
        },
        "passes": [
            {
                "name": p["name"],
                "order": p["order"],
                "wall_s": p["wall_s"],
                "cpu_s": p["cpu_s"],
                "jvm_live_mb": p["jvm_live_mb"],
                "keys": {
                    r["key"]: {
                        "module": ctx["modules"][r["key"]],
                        "wall_s": r["wall_s"],
                        "build_s": r["build_s"],
                        "run_s": r["run_s"],
                        "rows": len(r["rows"]),
                    }
                    for r in p["records"]
                },
                **({"layers": p["layers"], "selftest": p["selftest"]} if "layers" in p else {}),
            }
            for p in timeline
        ],
        "failures": failures,
        "metrics": metrics,
    }
    if tracer:
        record["spans"] = tracer.spans
    os.makedirs(OUT_DIR, exist_ok=True)
    kind = "trace" if args.trace else "result"
    path = os.path.join(OUT_DIR, f"{kind}-{args.workload}-seed{args.seed}-{run_id}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    for fail in failures:
        why = fail["why"][:300]
        print(f"perfbench: FAIL {fail['pass']} {fail['key']}: {why}", file=sys.stderr)
    print(f"perfbench: record {os.path.relpath(path, ROOT)}", file=sys.stderr)
    result = {"correct": correct, "attempted": attempted, "failed": len(failures)}
    print(json.dumps({**result, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
