"""Scoped persistence: per-query caches that a sequential sweep
(driver correctness pass, parity harness, bench) releases automatically.

Several operators read an intermediate more than once within one query
(MinHash's hashed-shingle sets, CF rating vectors). Spark never
auto-unpersists these from Python, so a 345-key sweep would accumulate
one cached plan per caching query — eviction churn at best,
executor-memory pressure at 100 TB.

``scoped_persist(df)`` persists, materializes and registers the
DataFrame; ``release_scoped_caches()`` unpersists everything
registered. The registry wraps every query so each *build* first
releases the caches of the previously built query — a sweep holds at
most one query's caches at any time.

The one release rule: only ``scoped_persist`` frames are released, and
releasing one is always safe — an unpersisted DataFrame recomputes from
its lineage, so a frame built earlier stays consumable whatever is
built after it. Local checkpoints are never released here: they cut
the lineage, so freeing their blocks would destroy a frame still in
use. Spark's ``ContextCleaner`` frees a checkpoint's blocks once no
plan references it; an iterative loop that supersedes a generation can
free it at once with ``drop_checkpoint``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_SCOPED: list[DataFrame] = []


def scoped_persist(df: DataFrame) -> DataFrame:
    """Persist ``df``, materialize it with a ``count()`` and register it
    for release at the next query build (or an explicit
    ``release_scoped_caches()``).

    A lazily-persisted frame is NOT computed once under AQE: adaptive
    execution submits independent query stages of one action
    concurrently, and every stage that scans the InMemoryRelation
    before its blocks exist recomputes the full lineage itself (r14
    stage profile: rec_item_similarity's pair join and both norm
    branches each re-read the parquet scans — 39.3 MB of input for an
    11.2 MB lineage — exactly the 3x rederivation the persist was
    added to prevent). Materializing first both guarantees single
    computation and lets downstream planning SEE the cache's
    partitioning/ordering, which elides the ENSURE_REQUIREMENTS
    exchanges+sorts that a lazy cache forces (measured r14: wall
    3.2-9.5 s -> 2.7-2.8 s on rec_item_similarity at sf0.1; input
    39.3 -> 28.1 MB). It also removes a latent hazard: two consumers
    racing a NON-DETERMINISTIC lineage could observe different data."""
    out = df.persist()
    _SCOPED.append(out)
    out.count()
    return out


def drop_checkpoint(cp: DataFrame) -> None:
    """Free the blocks of a local checkpoint that nothing will read
    again (a superseded generation in an iterative loop).
    ``DataFrame.unpersist`` does not reach them: the checkpointed
    frame's analyzed plan is a ``LogicalRDD`` over the one persistent
    RDD that holds them."""
    cp._jdf.queryExecution().analyzed().rdd().unpersist(False)


def release_scoped_caches() -> None:
    """Unpersist every registered DataFrame (idempotent, never raises on
    an already-released or dead SparkContext cache)."""
    while _SCOPED:
        df = _SCOPED.pop()
        try:
            df.unpersist()
        except Exception:  # noqa: BLE001 — context may already be gone
            pass
