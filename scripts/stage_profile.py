"""Per-stage wall/task-time/shuffle profile for one or more query keys.

Runs each key under the bench session shape with the Spark event log
enabled, then parses the log and prints, per executed stage: wall time,
summed executor task time, input bytes, shuffle read/write bytes and
records. This is the local[] stand-in for the Spark UI's stage table
(guide §1.1/§7.1) — it answers "which stage of this query is the time
going to" without a live UI.

Usage: python scripts/stage_profile.py <key> [key ...]
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1); cores and
       heap follow the shared session policy (``session.py``)
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EVDIR = "/tmp/mrsas_eventlog"


def main() -> int:
    keys = sys.argv[1:]
    if not keys:
        print("usage: stage_profile.py <key> [key ...]", file=sys.stderr)
        return 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    shutil.rmtree(EVDIR, ignore_errors=True)
    os.makedirs(EVDIR, exist_ok=True)

    from movierecommender_sentimentanalysissytem_spark.session import spark_session

    spark = spark_session(
        "mrsas-stage-profile",
        **{
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": EVDIR,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )

    from movierecommender_sentimentanalysissytem_spark import registry

    qs = registry.queries()
    spark.range(1_000_000).count()  # JVM warmup
    marks: list[tuple[str, float, float]] = []
    for name in keys:
        sc = spark.sparkContext
        sc.setJobDescription(f"profile:{name}")
        t0 = time.time()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        t1 = time.time()
        marks.append((name, t0 * 1000, t1 * 1000))
        sc.setJobDescription(None)
        print(f"# {name}: {t1 - t0:.3f}s wall", file=sys.stderr)
    spark.stop()

    # Parse the event log: map stages -> the query window they ran in.
    # Spark 4 writes one file per app, or a directory (rolling v2 logs)
    logs = []
    for p in glob.glob(os.path.join(EVDIR, "*")):
        if os.path.isdir(p):
            logs.extend(f for f in glob.glob(os.path.join(p, "*")) if os.path.isfile(f))
        else:
            logs.append(p)
    stages = []
    for path in logs:
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if ev.get("Event") != "SparkListenerStageCompleted":
                    continue
                si = ev["Stage Info"]
                sub = si.get("Submission Time")
                comp = si.get("Completion Time")
                if sub is None or comp is None:
                    continue
                acc = {
                    a["Name"]: a.get("Value", 0)
                    for a in si.get("Accumulables", [])
                    if isinstance(a.get("Value"), int)
                }
                stages.append(
                    {
                        "id": si["Stage ID"],
                        "name": si["Stage Name"].split("\n")[0][:70],
                        "sub": sub,
                        "comp": comp,
                        "wall_ms": comp - sub,
                        "task_ms": acc.get("internal.metrics.executorRunTime", 0),
                        "input_b": acc.get("internal.metrics.input.bytesRead", 0),
                        "sr_b": acc.get(
                            "internal.metrics.shuffle.read.localBytesRead", 0
                        )
                        + acc.get(
                            "internal.metrics.shuffle.read.remoteBytesRead", 0
                        ),
                        "sw_b": acc.get(
                            "internal.metrics.shuffle.write.bytesWritten", 0
                        ),
                        "sw_rec": acc.get(
                            "internal.metrics.shuffle.write.recordsWritten", 0
                        ),
                        "spill_b": acc.get("internal.metrics.diskBytesSpilled", 0),
                    }
                )
    for name, t0, t1 in marks:
        print(f"\n=== {name} ===")
        mine = [s for s in stages if t0 <= s["sub"] <= t1]
        mine.sort(key=lambda s: -s["wall_ms"])
        tot_wall = sum(s["wall_ms"] for s in mine)
        print(
            f"{'stage':>5} {'wall_ms':>8} {'task_ms':>8} {'input_MB':>9}"
            f" {'shufR_MB':>9} {'shufW_MB':>9} {'shufW_rec':>10} {'spill_MB':>9}  name"
        )
        for s in mine:
            print(
                f"{s['id']:>5} {s['wall_ms']:>8} {s['task_ms']:>8}"
                f" {s['input_b'] / 1e6:>9.1f} {s['sr_b'] / 1e6:>9.1f}"
                f" {s['sw_b'] / 1e6:>9.1f} {s['sw_rec']:>10}"
                f" {s['spill_b'] / 1e6:>9.1f}  {s['name']}"
            )
        print(f"total stage wall: {tot_wall} ms across {len(mine)} stages")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
