"""Wall-clock audit of every registry key at a given SF.

Runs each ``queries()`` builder under the bench configuration and times a
full materialization through Spark's ``noop`` sink (forces the complete
plan without driver-side collection cost). Prints a sorted table slowest
first and writes JSON to ``/tmp/timing_audit_<sf>.json`` so successive
perf passes can diff.

Usage:
    python scripts/timing_audit.py [sf_dir] [key ...]

Notes: timings are warm-ish (single session, keys sequential, page cache
shared) — treat them as a ranking, not absolute truth; re-run candidates
individually before/after a change.
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from movierecommender_sentimentanalysissytem_spark.session import (  # noqa: E402
    spark_session,
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    only = sys.argv[2:]
    spark = spark_session("timing_audit")

    from movierecommender_sentimentanalysissytem_spark import registry

    qs = registry.queries()
    keys = only or list(qs)
    out = {}
    for k in keys:
        t0 = time.time()
        try:
            df = qs[k](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            out[k] = round(time.time() - t0, 2)
        except Exception as e:  # noqa: BLE001 — audit must survive any key
            out[k] = f"ERR {type(e).__name__}: {e}"
        print(f"{k}: {out[k]}", flush=True)

    ranked = sorted(
        ((k, v) for k, v in out.items() if isinstance(v, float)),
        key=lambda kv: -kv[1],
    )
    print("\n== slowest 25 ==")
    for k, v in ranked[:25]:
        print(f"{v:8.2f}  {k}")
    errs = {k: v for k, v in out.items() if not isinstance(v, float)}
    if errs:
        print("\n== errors ==")
        for k, v in errs.items():
            print(f"{k}: {v}")
    tag = os.path.basename(os.path.normpath(sf_dir))
    path = f"/tmp/timing_audit_{tag}.json"
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(f"\nwrote {path}")


if __name__ == "__main__":
    main()
