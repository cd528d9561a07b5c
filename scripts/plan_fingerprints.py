"""Regenerate PLAN_FINGERPRINTS.json: the committed plan-shape snapshot
every key is diffed against (tests/test_plan_fingerprints.py checks a
representative subset on every pytest run; run THIS after an
intentional plan change and commit the diff — the diff IS the review
artifact).

Usage: python scripts/plan_fingerprints.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys


ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    sys.path.insert(0, ROOT)

    from movierecommender_sentimentanalysissytem_spark.plans.fingerprint import (
        collect,
    )
    from movierecommender_sentimentanalysissytem_spark.session import spark_session

    spark = spark_session("plan-fingerprints")
    fps = collect(spark, sf_dir)
    with open(os.path.join(ROOT, "PLAN_FINGERPRINTS.json"), "w") as fh:
        json.dump(fps, fh, indent=1, sort_keys=True)
    n_err = sum(1 for v in fps.values() if "__error__" in v)
    print(f"{len(fps)} fingerprints written, {n_err} errors")
    return 1 if n_err else 0


if __name__ == "__main__":
    raise SystemExit(main())
