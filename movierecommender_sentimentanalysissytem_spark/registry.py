"""Query registry: the single source of truth for the engine's surface.

Each operator from SURVEY.md §2 registers itself under its inventory key
with a Spark callable ``(spark, sf_dir) -> DataFrame`` and (when the
semantics are SQL-expressible) an equivalent DuckDB oracle SQL string.
``__spark_entry__.py`` exposes these to the driver verbatim.

Column names must match between the Spark result and the oracle result:
the driver sorts columns by name before hashing values, so every
computed/aggregate column is aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(key: str, oracle: Optional[str] = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query under ``key`` with an optional DuckDB oracle.

    Queries without an oracle get the driver's weaker rows-only check
    (reserved for genuinely non-SQL-expressible ops: ML model output,
    LSH, true streaming).
    """

    def deco(fn: QueryFn) -> QueryFn:
        if key in QUERIES:
            raise ValueError(f"duplicate query key: {key}")

        def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
            # Cache hygiene: release the previous query's scoped caches
            # so a sequential sweep holds at most one query's worth of
            # persisted state (see plans/caching.py).
            from movierecommender_sentimentanalysissytem_spark.plans.caching import (
                release_scoped_caches,
            )

            release_scoped_caches()
            return fn(spark, sf_dir)

        wrapper.__name__ = fn.__name__
        wrapper.__doc__ = fn.__doc__
        wrapper.__wrapped__ = fn
        QUERIES[key] = wrapper
        if oracle is not None:
            ORACLES[key] = oracle
        return fn

    return deco


def _load_all_modules() -> None:
    """Import every module that registers queries (idempotent)."""
    import movierecommender_sentimentanalysissytem_spark.operators.relational  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.operators.joins  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.operators.aggregates  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.operators.windows  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.operators.sortlimit  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.operators.setops  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.operators.subqueries  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.operators.recommender  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.operators.storage  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.operators.analytics  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.operators.tpch_more  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.operators.statistics  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.operators.inferential  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.operators.behavior  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.sources.pysource  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.operators.timeseries  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.functions.scalar  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.functions.text  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.functions.vector  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.functions.dedup  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.functions.text_analysis  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.functions.multimodal  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.functions.curation  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.ml.pipelines  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.streaming.windows  # noqa: F401
    import movierecommender_sentimentanalysissytem_spark.udfs  # noqa: F401


# SURVEY.md §2 inventory (89 keys): the mandated surface. Every other
# registered key is an extra, listed in SURVEY.md §2.13 by
# scripts/refresh_inventory.py.
_SECTION2 = frozenset(
    """
    scan_parquet scan_projection_pushdown scan_csv scan_json sink_parquet
    filter_simple filter_compound project_expressions project_case cast_types
    join_inner_equi join_star_multiway join_broadcast join_left_outer
    join_right_outer join_full_outer join_left_semi join_left_anti join_cross
    join_theta_range join_asof join_self
    agg_global agg_groupby agg_having agg_count_distinct
    agg_approx_count_distinct agg_distinct agg_rollup agg_cube
    agg_grouping_sets agg_pivot agg_filtered agg_collect agg_percentile
    agg_stddev_var agg_corr
    win_row_number_topk win_rank_dense win_lag_lead win_running_sum
    win_moving_avg win_range_frame win_ntile_percent win_first_last
    sort_multikey limit_offset sample_deterministic
    set_union_all set_union_distinct set_intersect set_except
    fn_string fn_string_regexp fn_split_explode fn_date fn_math
    fn_conditional fn_array fn_array_transform fn_map_json fn_hash
    text_wordcount text_top_terms text_stopword_removal text_ngrams
    text_doclen_stats text_tfidf text_lexicon_sentiment
    ml_sentiment_pipeline ml_als_recommend ml_eval_rmse
    dedup_exact dedup_near_minhash sim_cosine_pairwise sim_topk_neighbors
    sim_threshold_join multimodal_columns text_lang_partition_stats
    stream_tumbling_window stream_sliding_window stream_session_window
    stream_watermark_late stream_dedup stream_stateful_counter
    udf_python_scalar udf_pandas_vectorized udaf_pandas_grouped udtf
    """.split()
)


# Keys whose OUTPUT may legitimately change when the physical layout
# of the input tables changes (file count / row order within
# partitions): partition-seeded samplers and the corrupt-file scanner.
# scripts/layout_smoke.py exempts these from its row-count comparison
# (they must still execute without error). Kept here, next to the
# registry they annotate, so a key rename/removal breaks the registry
# test instead of desynchronizing a hand-maintained list in the script.
ORDER_SENSITIVE = frozenset(
    """
    sample_deterministic sample_weighted_bernoulli sample_stratified
    sample_train_test_split sample_k_per_group
    scan_ignore_corrupt_files
    """.split()
)


def queries() -> dict[str, QueryFn]:
    """Every registered query, in registration order."""
    _load_all_modules()
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """Every oracle, in registration order (a subsequence of queries())."""
    _load_all_modules()
    return dict(ORACLES)
