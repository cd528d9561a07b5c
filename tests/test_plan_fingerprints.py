"""Plan-shape snapshot diff (PLAN_FINGERPRINTS.json): relative plan
regressions — a broadcast degrading to sort-merge, an extra exchange,
a duplicated scan — stay legal for the static audit but multiply cost
at 100 TB. Every key's strategy-level fingerprint is committed; this
test re-derives a representative subset live and diffs.

After an INTENTIONAL plan change: `python scripts/plan_fingerprints.py`
and commit the JSON diff — the diff is the review artifact.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from movierecommender_sentimentanalysissytem_spark.plans.fingerprint import (
    collect,
)
from tests.conftest import SF_SMALL

with open(Path(__file__).resolve().parent.parent / "PLAN_FINGERPRINTS.json") as fh:
    STORED = json.load(fh)

# Strategy-bearing representatives: every join algorithm, the cached /
# broadcast / window / explode shapes, the scale-critical rewrites, and
# the bench headline set.
SUBSET = [
    "join_broadcast",
    "join_star_multiway",
    "join_inner_equi",
    "join_left_anti",
    "join_range_binned",
    "join_interval_overlap",
    "join_asof",
    "join_bucketed_colocated",
    "join_temporal_snapshot",
    "join_fuzzy_levenshtein",
    "geo_grid_proximity_join",
    "join_dynamic_partition_pruning",
    "maintenance_snapshot_diff",
    "agg_groupby",
    "agg_skew_salted",
    "agg_grouping_sets",
    "win_row_number_topk",
    "win_ntile_percent",
    "win_running_sum",
    "sort_multikey",
    "dedup_exact",
    "dedup_near_minhash",
    "dedup_ngram_jaccard",
    "sim_cosine_pairwise",
    "sim_topk_neighbors",
    "text_tfidf",
    "text_keyword_cooccurrence",
    "ml_batch_scoring",
    "ml_feature_scaling",
    "ml_eval_rmse",
    "rec_item_similarity",
    "rec_association_rules",
    "quality_benford_digits",
    "quality_expectation_suite",
    "embedding_random_projection",
    "events_dau_rolling",
    "sessionize_batch",
    "curation_chunk_overlap",
    "stream_tumbling_window",
    "stream_windowed_topk",
    "join_hint_shuffle_hash",
    "ml_kmeans_lloyd",
    "stats_kaplan_meier",
]


def test_subset_is_covered_by_snapshot():
    missing = [k for k in SUBSET if k not in STORED]
    assert not missing, f"regenerate PLAN_FINGERPRINTS.json: {missing}"


@pytest.fixture(scope="module")
def live(spark):
    return collect(spark, SF_SMALL, keys=set(SUBSET))


@pytest.mark.parametrize("key", SUBSET)
def test_plan_fingerprint_unchanged(live, key):
    assert live[key] == STORED[key], (
        f"{key}: plan shape drifted.\n  stored: {STORED[key]}\n  "
        f"live:   {live[key]}\nIf intentional, regenerate "
        f"PLAN_FINGERPRINTS.json (scripts/plan_fingerprints.py) and "
        f"commit the diff."
    )


def test_fingerprint_parser_on_synthetic_plan():
    """The fingerprint must count tree nodes by strategy name and
    ignore ids, arguments, and the repeated detail blocks — otherwise
    a 'snapshot unchanged' result could be vacuous."""
    from movierecommender_sentimentanalysissytem_spark.plans.fingerprint import (
        fingerprint,
    )

    plan = """== Physical Plan ==
AdaptiveSparkPlan (9)
+- HashAggregate (8)
   +- Exchange (7)
      +- HashAggregate (6)
         +- Project (5)
            +- SortMergeJoin Inner (4)
               :- Sort (3)
               :  +- Exchange (2)
               :     +- Scan parquet  (1)
               +- Sort (10)
                  +- Exchange (2)
                     +- Scan parquet  (1)

(1) Scan parquet
Output: [a]

(7) Exchange
Arguments: SinglePartition
"""
    fp = fingerprint(plan)
    # ids dedup repeated references: the shared Exchange (2) / Scan (1)
    # subtree under both join sides is ONE physical subtree, printed
    # twice — counting it per reference (the pre-r14 behavior) inflated
    # every cached/reused lineage by its fan-out and drowned real
    # regressions in reference-count noise.
    assert fp == {
        "HashAggregate": 2,
        "Exchange": 2,
        "SortMergeJoin": 1,
        "Sort": 2,
        "Scan parquet": 1,
    }


def test_fingerprint_skips_initial_plan_and_dedups_cache_references():
    """A MATERIALIZED InMemoryRelation (scoped_persist is eager since
    r14) prints its inner AdaptiveSparkPlan as a Final+Initial pair
    under EVERY reference. The fingerprint must count the final inner
    plan once and ignore the Initial copy (fresh ids, same shape)."""
    from movierecommender_sentimentanalysissytem_spark.plans.fingerprint import (
        fingerprint,
    )

    plan = """== Physical Plan ==
AdaptiveSparkPlan (20)
+- HashAggregate (19)
   +- Exchange (18)
      +- SortMergeJoin Inner (17)
         :- InMemoryTableScan (1)
         :     +- InMemoryRelation (2)
         :           +- AdaptiveSparkPlan (12)
                        +- == Final Plan ==
                           ResultQueryStage (11)
                           +- * HashAggregate (10)
                              +- ShuffleQueryStage (9)
                                 +- Exchange (8)
                                    +- * Scan parquet  (7)
                        +- == Initial Plan ==
                           HashAggregate (6)
                           +- Exchange (5)
                              +- Scan parquet  (7)
         +- InMemoryTableScan (13)
               +- InMemoryRelation (14)
                     +- AdaptiveSparkPlan (12)
                        +- == Final Plan ==
                           ResultQueryStage (11)
                           +- * HashAggregate (10)
                              +- ShuffleQueryStage (9)
                                 +- Exchange (8)
                                    +- * Scan parquet  (7)
                        +- == Initial Plan ==
                           HashAggregate (6)
                           +- Exchange (5)
                              +- Scan parquet  (7)

(7) Scan parquet
Output: [a]
"""
    fp = fingerprint(plan)
    assert fp == {
        "HashAggregate": 2,  # outer (19) + cached final (10), once
        "Exchange": 2,  # outer (18) + cache-build (8), once
        "SortMergeJoin": 1,
        "InMemoryTableScan": 2,  # two genuine references
        "Scan parquet": 1,  # inside the cache, built once
    }
