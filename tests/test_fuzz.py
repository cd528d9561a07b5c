"""Differential fuzz layer (scripts/fuzz_differential.py): random
integer-safe SQL executed by BOTH engines from the same text.

Two properties are pinned: (1) a fixed seed block runs clean — any
engine-semantics drift in the expression layer turns this red with a
reproducing seed in the message; (2) the harness actually DETECTS
divergence — verified against a known real cross-engine difference
(CAST(double AS INT) rounds in DuckDB, truncates in Spark), so a green
run means "checked and agreed", not "compared nothing".
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))

import fuzz_differential as fz  # noqa: E402

from tests.conftest import SF_SMALL  # noqa: E402


# Suite-growth budget (r14): fuzz pins are split into two tiers.
# FAST tier — the 20-query mixed block, a 3-query smoke pin per
# curated shape (strict subsets of the full-density blocks: same
# (grammar, k) prefix), the grammar-version pin, and the four
# divergence pins — deterministic coverage of every production at
# ~1/4 the cost. SLOW tier — the 40-query mixed block and the
# 12-query full-density per-shape blocks, which re-run in the full
# gate (plain `pytest tests/`).
def _pin_shapes(spark, grammar, shapes, n):
    for shape in shapes:
        failures = fz.run_differential(
            spark, SF_SMALL, [(grammar, k) for k in range(n)],
            only_shape=shape,
        )
        assert not failures, "\n".join(failures)


@pytest.mark.slow
def test_fixed_seed_block_agrees(spark):
    failures = fz.run_differential(
        spark, SF_SMALL, [(0, k) for k in range(40)]
    )
    assert not failures, "\n".join(failures)


@pytest.mark.parametrize(
    "regime",
    [
        {},
        {
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.shuffle.partitions": "7",
        },
    ],
    ids=["session-default", "aqe-off-7-partitions"],
)
def test_second_seed_block_agrees(spark, regime):
    """Agreement must not depend on the physical-plan regime: the
    session default, and adaptive re-planning off with an odd shuffle
    fan-out (r12's config-robustness axis)."""
    saved = {key: spark.conf.get(key) for key in regime}
    try:
        for key, value in regime.items():
            spark.conf.set(key, value)
        failures = fz.run_differential(
            spark, SF_SMALL, [(1, k) for k in range(20)]
        )
    finally:
        for key, value in saved.items():
            spark.conf.set(key, value)
    assert not failures, "\n".join(failures)


def test_harness_detects_known_divergence(spark, monkeypatch):
    """CAST(double AS INT): DuckDB rounds (1.5 -> 2), Spark truncates
    (1.5 -> 1). The harness must flag it — proving the comparison has
    teeth. (This is also why the GENERATOR grammar excludes
    float-to-int casts: they are a real semantic difference, handled
    in curated keys by FLOOR-based rounding.)"""
    monkeypatch.setattr(
        fz,
        "gen_query",
        lambda seed, k, *a, **kw: (
            "SELECT CAST(CAST(l_orderkey AS DOUBLE) + 0.5 AS INT) AS x "
            "FROM lineitem WHERE l_orderkey = 1"
        ),
    )
    failures = fz.run_differential(spark, SF_SMALL, [(99, 0)])
    assert len(failures) == 1
    assert "MISMATCH" in failures[0]


def test_known_divergence_rollup_on_empty_input(spark, monkeypatch):
    """Found by the fuzzer (seed 0 / k 332): on EMPTY input, DuckDB's
    GROUP BY ROLLUP emits the SQL-standard grand-total row (the ()
    grouping set aggregates the empty relation to one row, count 0)
    while Spark returns ZERO rows. Pinned so the knowledge survives:
    the harness must flag it, and the curated rollup keys' empty-input
    exclusions (tests/test_empty_inputs.py's grand-total class) rest
    on exactly this asymmetry."""
    monkeypatch.setattr(
        fz,
        "gen_query",
        lambda seed, k, *a, **kw: (
            "SELECT o_orderstatus, COUNT(*) AS n FROM orders "
            "WHERE o_orderkey < 0 GROUP BY ROLLUP(o_orderstatus)"
        ),
    )
    failures = fz.run_differential(spark, SF_SMALL, [(98, 0)])
    assert len(failures) == 1
    assert "MISMATCH rows 0 vs 1" in failures[0]


def test_round12_shapes_smoke(spark):
    """Fast-tier 3-query prefix of test_round12_shapes_agree."""
    _pin_shapes(spark, 2, ("scalar_subquery", "cte", "distinct_agg"), 3)


@pytest.mark.slow
def test_round12_shapes_agree(spark):
    """Full-density blocks for the round-12 productions: correlated
    scalar subqueries (Spark's decorrelation rewrite vs DuckDB's
    dependent join) and twice-consumed CTE chains. The offline sweeps
    ran 700 of each at sf0.001/sf0.01 clean; these blocks keep a
    reproducible pin in the suite."""
    _pin_shapes(spark, 2, ("scalar_subquery", "cte", "distinct_agg"), 12)


@pytest.mark.slow
def test_round13_shapes_agree(spark):
    """Full-density pins for the round-13 productions. window_nulls:
    explicit NULLS FIRST/LAST window ordering over nullable keys (the
    engines' ASC defaults differ) plus IGNORE NULLS on
    LAG/LEAD/FIRST_VALUE/LAST_VALUE — the grammar's first DUAL-TEXT
    shape (DuckDB 1.0 cannot parse IGNORE NULLS; its side restates the
    semantics as arg_min/arg_max FILTER over equivalent ROWS frames,
    so agreement checks Spark's implementation against an independent
    formulation). exists_corr: correlated EXISTS/NOT EXISTS with
    non-equi and NULLIF-seeded correlated conjuncts, aggregating
    outers, and nullable [NOT] IN membership."""
    _pin_shapes(spark, 3, ("window_nulls", "exists_corr"), 12)


def test_round13_shapes_smoke(spark):
    """Fast-tier 3-query prefix of test_round13_shapes_agree."""
    _pin_shapes(spark, 3, ("window_nulls", "exists_corr"), 3)


def test_known_divergence_duckdb_correlated_in_null_semantics(
    spark, monkeypatch
):
    """Found by prototyping the membership_corr production (round 13):
    DuckDB 1.0 flattens CORRELATED `x IN (subquery)` into an
    IS-NOT-DISTINCT-FROM semi join, so a NULL outer operand whose
    key's inner set contains NULL satisfies the predicate — where the
    SQL standard (NULL IN (…NULL…) = UNKNOWN → WHERE filters the
    row), DuckDB's own UNCORRELATED path, and Spark all drop it.
    Fixture-independent inline-table repro; the harness must flag it
    (Spark 0 rows, DuckDB 1 row). The membership_corr grammar
    COALESCE-wraps the outer operand of its IN form to stay out of
    this corner; every other corner of the correlated [NOT] IN truth
    table was mapped and agrees."""
    monkeypatch.setattr(
        fz,
        "gen_query",
        lambda seed, k, *a, **kw: (
            "SELECT o.k, o.x FROM (VALUES (1, 5), (1, CAST(NULL AS INT)))"
            " AS o(k, x) WHERE o.x IN (SELECT i.val FROM"
            " (VALUES (1, CAST(NULL AS INT)), (1, 10)) AS i(k, val)"
            " WHERE i.k = o.k)"
        ),
    )
    failures = fz.run_differential(spark, SF_SMALL, [(97, 0)])
    assert len(failures) == 1
    assert "MISMATCH rows 0 vs 1" in failures[0]


def test_known_divergence_duckdb_not_in_folded_null_inner(
    spark, monkeypatch
):
    """Found by the first membership_corr targeted sweeps (seeds
    1316-1317, then 1322-1323 refined the trigger, round 13): when the
    inner operand evaluates NULL on EVERY row surviving the subquery's
    extra predicate (relation-wide, post-filter) AND such an extra
    predicate exists, DuckDB 1.0's correlated NOT IN filters EVERY
    outer row — including keys whose inner set is EMPTY, which the
    standard (x NOT IN () = TRUE) and Spark keep. Verified
    non-triggers: bare correlation is correct even with all-NULL
    operands; mixed NULL/value operands (even per-key-homogeneous) are
    correct WITH predicates; a mixed operand whose predicate selects
    exactly the NULL rows TRIGGERS it — so the property is
    post-filter and relation-wide, and a random predicate can always
    carve it out. Fixture-independent inline repro: k=1's inner set is
    {NULL} (UNKNOWN → filtered, both engines agree), k=3's is empty
    after the val > 0 predicate (TRUE → Spark keeps (3,), DuckDB drops
    it). The membership_corr grammar is sound by construction: its
    NOT IN form pairs nullable inners ONLY with bare correlation, and
    predicates ONLY with a COALESCE-guaranteed non-null inner."""
    monkeypatch.setattr(
        fz,
        "gen_query",
        lambda seed, k, *a, **kw: (
            "SELECT o.k FROM (VALUES (1, 5), (3, 5)) AS o(k, x)"
            " WHERE o.x NOT IN (SELECT CAST(NULL AS INT) FROM"
            " (VALUES (1, 10), (3, -1)) AS i(k, val)"
            " WHERE i.k = o.k AND i.val > 0)"
        ),
    )
    failures = fz.run_differential(spark, SF_SMALL, [(96, 0)])
    assert len(failures) == 1
    assert "MISMATCH rows 1 vs 0" in failures[0]


@pytest.mark.slow
def test_round14_shapes_agree(spark):
    """Full-density pins for the round-14 productions (grammar v5).
    array_hof: higher-order array functions as DUAL-TEXT pairs —
    Spark transform/filter/aggregate/array_* vs DuckDB
    list_transform/list_filter/list_sum/list_* — over arrays built
    deterministically in-query (array()/list_value(),
    sequence()/generate_series() with ascending-by-construction
    bounds: the engines DIVERGE on descending bounds and on
    empty-array sum, both guarded by construction). date_arith:
    compositions of day arithmetic, clamping month arithmetic
    (add_months vs + n*INTERVAL 1 MONTH), date_trunc, last_day,
    datediff (argument order differs) and EXTRACT over the fixture
    timestamp columns and literal leap-day/month-end anchors."""
    _pin_shapes(spark, 5, ("array_hof", "date_arith"), 12)


def test_round14_shapes_smoke(spark):
    """Fast-tier 3-query prefix of test_round14_shapes_agree."""
    _pin_shapes(spark, 5, ("array_hof", "date_arith"), 3)


@pytest.mark.slow
def test_membership_corr_shape_agrees(spark):
    """Full-density pin for the round-13 membership_corr production
    (grammar v4): correlated IN (COALESCE-guarded outer operand, see
    the known-divergence test above) and correlated NOT IN — Spark's
    null-aware left-anti join — with NULLIF-seeded operands on both
    sides and optionally aggregating outers."""
    _pin_shapes(spark, 4, ("membership_corr",), 12)


def test_membership_corr_shape_smoke(spark):
    """Fast-tier 3-query prefix of test_membership_corr_shape_agrees."""
    _pin_shapes(spark, 4, ("membership_corr",), 3)


def test_grammar_versions_pin_historical_seed_mapping(spark):
    """ADVICE r12: appending shapes to the mixed grammar changes the
    (seed, k) -> query mapping for every historical seed. GRAMMARS
    versions are therefore strict prefixes (v1 ⊂ v2 ⊂ v3, new shapes
    appended) and documented sweep seeds cite their version. Pins:
    (1) the prefix property itself; (2) no round-13 shape can be drawn
    under grammar=2, so r12's documented seeds (1200-1228) remain
    reproducible by passing grammar=2; (3) a v2 sample block still
    runs clean through the harness under grammar=2."""
    latest = fz.GRAMMARS[fz.GRAMMAR_VERSION]
    assert fz.GRAMMARS[1] == latest[:13]
    assert fz.GRAMMARS[2] == latest[:16]
    assert fz.GRAMMARS[3] == latest[:18]
    assert {"window_nulls", "exists_corr"} & set(fz.GRAMMARS[2]) == set()
    assert {"window_nulls", "exists_corr"} <= set(fz.GRAMMARS[3])
    assert fz.GRAMMARS[4] == latest[:19]
    assert "membership_corr" not in set(fz.GRAMMARS[3])
    assert "membership_corr" in set(fz.GRAMMARS[4])
    assert {"array_hof", "date_arith"} & set(fz.GRAMMARS[4]) == set()
    assert {"array_hof", "date_arith"} <= set(fz.GRAMMARS[5])
    failures = fz.run_differential(
        spark, SF_SMALL, [(1204, k) for k in range(8)], grammar=2
    )
    assert not failures, "\n".join(failures)
