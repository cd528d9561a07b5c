"""The shared session follows the repo's one session policy
(``movierecommender_sentimentanalysissytem_spark/session.py``): cores
from ``$SPARK_GRAFT_CPUS`` or the CPU affinity count, one shuffle
partition per core, and a driver heap that fits the host."""

from __future__ import annotations

import os


def test_session_matches_host(spark):
    n = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    assert spark.sparkContext.master == f"local[{n}]"
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(n)
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    heap = spark.sparkContext.getConf().get("spark.driver.memory", "1g")
    # Spark's own size parser: a bare number means MiB.
    heap_mb = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsMb(heap)
    assert heap_mb <= ram_mb // 2
