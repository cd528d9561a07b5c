"""CLI wrapper for the static plan audit — the implementation lives in
``movierecommender_sentimentanalysissytem_spark.plans.audit``.

Usage: python scripts/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from movierecommender_sentimentanalysissytem_spark.plans.audit import (
        SKIP,
        audit_plans,
    )
    from movierecommender_sentimentanalysissytem_spark.registry import queries
    from movierecommender_sentimentanalysissytem_spark.session import spark_session

    spark = spark_session("plan_audit")

    flags = audit_plans(spark, sf_dir)
    for f in flags:
        print(f"FLAG {f}")
    n_audited = len([k for k in queries() if k not in SKIP])
    print(f"\naudited {n_audited} plans, {len(flags)} flags")
    return 1 if flags else 0


if __name__ == "__main__":
    raise SystemExit(main())
