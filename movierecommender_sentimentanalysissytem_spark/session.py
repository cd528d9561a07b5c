"""The one local Spark session policy, shared by the tests, ``bench.py``
and every script (the engine itself never creates a session).

- ``local[N]`` with N = ``$SPARK_GRAFT_CPUS``, or the process's CPU
  affinity count when unset; ``spark.sql.shuffle.partitions = N``.
- AQE on, 16m file splits (the fixtures are single parquet files; the
  default 128m split would scan each in one task), UTC session zone.
- Driver heap: half of host RAM, capped at 16 GB.
- No UI, no console progress, log level ERROR.
"""

from __future__ import annotations

import os


def spark_session(app: str, **conf: str):
    """Get or create the session; ``conf`` adds or overrides keys, e.g.
    ``spark_session("x", **{"spark.ui.retainedStages": "5000"})``."""
    from pyspark.sql import SparkSession

    cores = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    settings = {
        "spark.sql.shuffle.partitions": cores,
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.files.maxPartitionBytes": "16m",
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory": f"{min(16384, ram_mb // 2)}m",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        **conf,
    }
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config(map=settings)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark
