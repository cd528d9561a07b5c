"""Layout-robustness smoke: run EVERY registry key against a
directory-shaped copy of the fixtures.

The shipped fixtures are ONE parquet file per table, but every real
corpus — and anything a Spark job itself writes — is a DIRECTORY of
part files. Code can silently grow single-file assumptions that the
fixtures never exercise: the round-9 10x scale smoke caught exactly
one (the streaming source's hard-link staging raised IsADirectoryError
on a directory-shaped events table). This smoke institutionalizes that
check for the whole surface: copy each fixture table into an N-part
directory (content identical, raw dtypes preserved) and run every
``queries()`` key against the copy to full materialization, reporting
anything that raises.

Row counts are also compared against the single-file run for keys
whose output is layout-independent; keys whose results legitimately
depend on physical row order / partitioning (documented samplers and
order-sensitive emitters) are count-exempt but must still RUN.

Usage: python scripts/layout_smoke.py [sf_dir] [key ...]
Writes the directory-shaped copy under /tmp/layout_smoke_<sfname>/
(reused if present).
"""

from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

# Keys whose OUTPUT may legitimately change when the physical layout
# (file count / row order within partitions) changes; they must still
# execute without error. Everything else must also match row counts.
# The list lives next to the registry it annotates (and is pinned to
# queries() by tests/test_registry.py) so it can't silently drift.
from movierecommender_sentimentanalysissytem_spark.registry import (  # noqa: E402
    ORDER_SENSITIVE,
)
from movierecommender_sentimentanalysissytem_spark.session import (  # noqa: E402
    spark_session,
)


def build_dir_copy(spark: SparkSession, src: str, out: str, parts: int = 3) -> None:
    from movierecommender_sentimentanalysissytem_spark.sources.tables import TABLES

    # raw reads (no ts normalization) so the copy preserves the
    # fixture generation's dtypes; nanosAsLong covers the legacy gen
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for t in TABLES:
        df = spark.read.parquet(os.path.join(src, f"{t}.parquet"))
        df.repartition(parts).write.mode("overwrite").parquet(
            os.path.join(out, f"{t}.parquet")
        )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:]
    out = f"/tmp/layout_smoke_{os.path.basename(sf_dir.rstrip('/'))}"
    spark = spark_session("layout_smoke")

    if not os.path.exists(os.path.join(out, "lineitem.parquet")):
        t0 = time.time()
        build_dir_copy(spark, sf_dir, out)
        print(f"built 3-part directory copy in {time.time()-t0:.1f}s")

    from movierecommender_sentimentanalysissytem_spark import registry

    qs = registry.queries()
    keys = only or list(qs)
    failures: list[str] = []
    mismatches: list[str] = []
    for i, key in enumerate(keys):
        try:
            n_dir = qs[key](spark, out).count()
        except Exception:
            failures.append(key)
            print(f"FAIL {key}\n{traceback.format_exc()}", file=sys.stderr)
            continue
        if key in ORDER_SENSITIVE:
            print(f"ok   {key} ({n_dir} rows, count-exempt)")
            continue
        n_single = qs[key](spark, sf_dir).count()
        if n_dir != n_single:
            mismatches.append(f"{key}: dir {n_dir} vs single-file {n_single}")
            print(f"DIFF {key}: {n_dir} vs {n_single}", file=sys.stderr)
        else:
            print(f"ok   {key} ({n_dir} rows)")
    print(
        f"\n{len(keys) - len(failures)} ran, {len(failures)} raised, "
        f"{len(mismatches)} row-count diffs"
    )
    for f in failures:
        print(f"RAISED {f}")
    for m in mismatches:
        print(f"DIFF   {m}")
    sys.exit(1 if failures or mismatches else 0)


if __name__ == "__main__":
    main()
