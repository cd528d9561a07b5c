"""Differential query fuzzer: generate random ANSI-SQL queries from a
cross-engine-safe grammar and run the SAME text through Spark SQL and
DuckDB, comparing full result multisets.

The hand-written oracle pairs (registry.ORACLES) verify the 200+
curated operators; this fuzzer sweeps the EXPRESSION layer underneath
them — integer arithmetic, three-valued boolean logic, CASE, string
length/upper, date part extraction, grouped aggregates — where a
cross-engine semantic difference would corrupt every operator built on
top. The grammar deliberately emits only constructs both engines parse
identically AND evaluate deterministically:

- integer columns / literals, + - * and % with non-negative operands
  (both engines use dividend-sign %, but staying non-negative removes
  the question);
- no floats, no division (summation order / rounding are covered by
  the curated keys and functions/rounding.py);
- comparisons, AND/OR/NOT over possibly-NULL inputs (three-valued
  logic is exactly what we want to cross-check);
- CASE WHEN, COALESCE, NULLIF;
- length()/upper() on the categorical columns, year()/month() on the
  date column;
- SUM/MIN/MAX/COUNT (+ FILTER-free) over integer expressions, grouped
  by a bounded-cardinality expression;
- (round 10) abs(), greatest()/least() (NULL-skipping in BOTH engines,
  verified incl. all-NULL), bitwise & and | (two's-complement BIGINT,
  negative operands agree; ^ excluded — POWER in DuckDB vs XOR in
  Spark), and [NOT] BETWEEN;
- (round 11) an outer-join null-extension probe shape (LEFT/RIGHT/FULL
  over disjointly-thinned sides, projecting the extended rows directly
  through IS NULL / COALESCE / cross-side CASE instead of hiding them
  in aggregates), HAVING over SUM/MIN/MAX aggregate expressions (mod a
  prime so both keep/drop outcomes occur at any SF) in both the plain
  grouped and the join shapes, BETWEEN bounds scaled to the
  operand's range (mod-reduced operand or key-range-wide bounds) so
  both predicate outcomes are regularly exercised, VALUE-based RANGE
  window frames (COALESCE-wrapped ordering key — a NULL ordering key's
  RANGE frame is an engine-convention corner the grammar avoids), and
  explicit GROUPING SETS sublattices with GROUPING() markers;
- (round 12) correlated scalar subqueries in the SELECT list (Spark's
  decorrelation rewrite vs DuckDB's dependent join — empty-group
  COUNT=0 / aggregate=NULL semantics pinned), an uncorrelated scalar
  comparison in WHERE, and multi-CTE chains where the first CTE is
  consumed twice (directly + through a second aggregating CTE),
  probing shared-subplan handling, and mixed DISTINCT/plain aggregates
  in one grouped query (Spark's Expand + double-aggregate rewrite vs
  DuckDB's per-aggregate distinct tables; mod-reduced operands keep
  the distinct sets collision-dense at any SF).

- (round 13) window null-semantics — explicit NULLS FIRST/LAST inside
  window ORDER BY over genuinely-nullable ordering expressions (the
  engines' DEFAULTS differ: Spark ASC→NULLS FIRST, DuckDB→NULLS LAST),
  and IGNORE NULLS on LAG/LEAD/FIRST_VALUE/LAST_VALUE cross-checked
  against an independent DuckDB arg_min/arg_max FILTER formulation
  (DuckDB 1.0 has no IGNORE NULLS syntax — the first dual-text shape);
  and correlated EXISTS/NOT EXISTS decorrelation with non-equi and
  NULLIF-seeded correlated conjuncts, aggregating outers, and
  nullable [NOT] IN membership.

- (round 14, grammar v5) higher-order array functions as dual-text
  pairs — Spark transform/filter/aggregate/array_* vs DuckDB
  list_transform/list_filter/list_sum/list_* over arrays built
  deterministically in-query (ascending-by-construction sequence
  bounds and non-empty sum operands: the engines diverge on
  descending sequence bounds and on empty-array sum, both excluded by
  construction); and date/interval arithmetic — compositions of day
  arithmetic (same-text date + INT), clamping month arithmetic (Spark
  add_months vs DuckDB + n * INTERVAL 1 MONTH), date_trunc/last_day/
  greatest/least, datediff (argument order differs per engine), and
  EXTRACT(DAY/MONTH/YEAR/QUARTER/DOY) over fixture timestamps plus
  literal leap-day/month-end anchor dates (dayofweek stays excluded —
  Spark 1=Sunday vs DuckDB 0=Sunday; months_between is Spark-only).

Seeded: query k is a pure function of (seed, k, grammar_version) — a
failure message names the reproducing seed; documented sweep seeds cite
the grammar version they ran under (see GRAMMARS).

CLI: python scripts/fuzz_differential.py [n_queries] [sf_dir] [seed]
[shape] [grammar_version]
(shape restricts the grammar to one production for targeted sweeps,
e.g. ``outer_probe`` or ``join``; grammar_version pins the mixed-sweep
shape list for reproducing historical seeds, default = latest)
"""

from __future__ import annotations

import os
import random
import sys

TABLES = ("lineitem", "orders", "customer")

INT_COLS = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey", "c_nationkey"],
}
STR_COLS = {
    "lineitem": ["l_returnflag", "l_linestatus"],
    "orders": ["o_orderstatus", "o_orderpriority"],
    "customer": ["c_mktsegment", "c_name"],
}
TS_COLS = {
    "lineitem": ["l_shipdate"],
    "orders": ["o_orderdate"],
    "customer": [],
}

# Tables with a genuinely UNIQUE key, for deterministic tie-breaks in
# ORDER BY-sensitive shapes (window, top-k). The fuzzer itself proved
# the synthetic lineitem fixture has NO unique key — not even
# (l_orderkey, l_linenumber): 1401 duplicate pairs at sf0.001 — so a
# LAG/LIMIT over any lineitem ordering has genuine ties and the
# engines legitimately disagree on peer order. Order-sensitive shapes
# therefore run only on key-bearing tables; this is the same
# total-order determinism rule every curated window key follows
# (FIXTURES.md), discovered here the hard way by seed 0 / k 216.
UNIQUE_KEY = {
    "orders": "o_orderkey ASC",
    "customer": "c_custkey ASC",
}

# Tables carrying a timestamp column (the date_arith shape needs one
# as its composition base; customer has none).
TS_COLS_TABLES = tuple(t for t in TABLES if TS_COLS[t])


def _int_expr(rng: random.Random, table: str, depth: int = 0) -> str:
    choices = ["col", "lit", "datepart" if TS_COLS[table] else "col",
               "length"]
    if depth < 2:
        choices += ["arith", "mod", "case", "coalesce", "nullif",
                    # round 10: abs over a signed difference,
                    # greatest/least (NULL-SKIPPING in both engines —
                    # verified duckdb matches Spark's skip-nulls rule,
                    # including all-NULL → NULL), and bitwise &/| on
                    # two's-complement BIGINT (negative operands agree
                    # cross-engine; ^ stays EXCLUDED — power in DuckDB,
                    # xor in Spark)
                    "abs", "gl", "bit"]
    kind = rng.choice(choices)
    if kind == "abs":
        a = _int_expr(rng, table, depth + 1)
        b = _int_expr(rng, table, depth + 1)
        return f"abs(({a}) - ({b}))"
    if kind == "gl":
        fn = rng.choice(["greatest", "least"])
        a = _int_expr(rng, table, depth + 1)
        b = _int_expr(rng, table, depth + 1)
        return f"{fn}(({a}), ({b}))"
    if kind == "bit":
        op = rng.choice(["&", "|"])
        a = _int_expr(rng, table, depth + 1)
        b = _int_expr(rng, table, depth + 1)
        return f"(({a}) {op} ({b}))"
    if kind == "col":
        return rng.choice(INT_COLS[table])
    if kind == "lit":
        return str(rng.randint(0, 100))
    if kind == "datepart":
        fn = rng.choice(["year", "month", "day"])
        return f"{fn}({rng.choice(TS_COLS[table])})"
    if kind == "length":
        return f"length({rng.choice(STR_COLS[table])})"
    if kind == "arith":
        op = rng.choice(["+", "-", "*"])
        a = _int_expr(rng, table, depth + 1)
        b = _int_expr(rng, table, depth + 1)
        # keep magnitudes well inside BIGINT even after * chains
        return f"(({a}) {op} ({b})) % 1000000"
    if kind == "mod":
        a = _int_expr(rng, table, depth + 1)
        return f"(({a}) % {rng.randint(2, 97)})"
    if kind == "case":
        c = _bool_expr(rng, table, depth + 1)
        t = _int_expr(rng, table, depth + 1)
        f = _int_expr(rng, table, depth + 1)
        return f"(CASE WHEN {c} THEN {t} ELSE {f} END)"
    if kind == "coalesce":
        a = _int_expr(rng, table, depth + 1)
        b = _int_expr(rng, table, depth + 1)
        return f"COALESCE(NULLIF({a}, {rng.randint(0, 50)}), {b})"
    # nullif
    a = _int_expr(rng, table, depth + 1)
    return f"NULLIF({a}, {rng.randint(0, 50)})"


def _bool_expr(rng: random.Random, table: str, depth: int = 0) -> str:
    if depth < 2 and rng.random() < 0.4:
        op = rng.choice(["AND", "OR"])
        a = _bool_expr(rng, table, depth + 1)
        b = _bool_expr(rng, table, depth + 1)
        e = f"({a}) {op} ({b})"
        return f"NOT ({e})" if rng.random() < 0.2 else e
    kind = rng.choice(["cmp", "cmp", "in", "null", "strcmp", "between"])
    if kind == "between":
        # standard sugar for >= AND <= incl. three-valued NULL
        # propagation. Two bound regimes so BOTH outcomes of the
        # predicate occur regularly (r10 ADVICE: the original fixed
        # lo<=1000 bounds were constant-false against raw key columns
        # like l_orderkey, exercising only the trivial branch):
        # (a) reduce the operand mod M and draw bounds inside [0, M),
        # so in-range hits are guaranteed at any scale factor;
        # (b) raw operand with bounds drawn wide enough to reach into
        # the key-column range of the sf0.001-sf0.01 fixtures.
        e = _int_expr(rng, table, depth + 1)
        neg = "NOT " if rng.random() < 0.25 else ""
        if rng.random() < 0.5:
            m = rng.randint(50, 500)
            lo = rng.randint(0, m - 1)
            hi = lo + rng.randint(0, m - 1 - lo)
            return f"((({e}) % {m}) {neg}BETWEEN {lo} AND {hi})"
        lo = rng.randint(0, 40000)
        hi = lo + rng.randint(0, 60000)
        return f"(({e}) {neg}BETWEEN {lo} AND {hi})"
    if kind == "cmp":
        op = rng.choice(["<", "<=", ">", ">=", "=", "!="])
        return f"({_int_expr(rng, table, depth + 1)}) {op} ({_int_expr(rng, table, depth + 1)})"
    if kind == "in":
        col = rng.choice(INT_COLS[table])
        vals = ", ".join(str(rng.randint(0, 200)) for _ in range(3))
        return f"({col} % 211) IN ({vals})"
    if kind == "null":
        return f"NULLIF({_int_expr(rng, table, depth + 1)}, {rng.randint(0, 30)}) IS NULL"
    # strcmp
    col = rng.choice(STR_COLS[table])
    return f"upper({col}) {rng.choice(['=', '!='])} upper({col})"


def _having_clause(rng: random.Random, table: str) -> str:
    """HAVING over a random aggregate expression (round 11 — the old
    grammar only ever emitted ``HAVING COUNT(*) > n``): COUNT
    thresholds, MIN/MAX comparisons against literals, and SUM reduced
    mod a prime so both keep/drop outcomes occur regardless of group
    size (raw SUMs grow with SF and would make a fixed literal
    constant-true). A SUM over an all-NULL group is NULL, so the
    comparison's three-valued drop-the-row semantics are exercised
    too. 30% of the time two predicates combine with AND/OR."""

    def one() -> str:
        fam = rng.choice(["count", "minmax", "summod"])
        cmp_ = rng.choice(["<", "<=", ">", ">=", "=", "!="])
        if fam == "count":
            return f"COUNT(*) {cmp_} {rng.randint(0, 8)}"
        if fam == "minmax":
            fn = rng.choice(["MIN", "MAX"])
            return f"{fn}({_int_expr(rng, table)}) {cmp_} {rng.randint(0, 800)}"
        m = rng.choice([101, 1009, 10007])
        return f"(SUM({_int_expr(rng, table)}) % {m}) {cmp_} {rng.randint(0, m - 1)}"

    if rng.random() < 0.3:
        return f" HAVING ({one()}) {rng.choice(['AND', 'OR'])} ({one()})"
    return f" HAVING {one()}"


def _join_query(rng: random.Random) -> str:
    """orders ⋈ lineitem with a random join type — outer-join NULL
    semantics and ON-vs-WHERE filter placement are classic
    cross-engine drift spots, so both are exercised. Half the queries
    carry a HAVING over the joined aggregates (round 11), so group
    filters over null-extended inputs are swept too."""
    jt = rng.choice(["JOIN", "LEFT JOIN", "JOIN", "RIGHT JOIN"])
    on_extra = ""
    if rng.random() < 0.4:
        on_extra = f" AND ({_bool_expr(rng, 'lineitem')})"
    where = ""
    if rng.random() < 0.5:
        where = f" WHERE {_bool_expr(rng, 'orders')}"
    group = rng.choice(
        ["o_orderpriority", "o_orderstatus",
         f"((o_custkey) % {rng.randint(2, 12)})"]
    )
    aggs = []
    for i in range(2):
        fn = rng.choice(["SUM", "MIN", "MAX", "COUNT"])
        src = rng.choice(["lineitem", "orders"])
        aggs.append(f"{fn}({_int_expr(rng, src)}) AS a{i}")
    having = ""
    if rng.random() < 0.5:
        having = _having_clause(rng, rng.choice(["lineitem", "orders"]))
    return (
        f"SELECT {group} AS g, COUNT(*) AS n, {', '.join(aggs)} "
        f"FROM orders {jt} lineitem "
        f"ON l_orderkey = o_orderkey{on_extra}{where} "
        f"GROUP BY {group}{having}"
    )


def _outer_probe_query(rng: random.Random) -> str:
    """Outer-join null-extension probed DIRECTLY (round 11): the
    aggregate `_join_query` shape can mask a wrong null-extended row
    inside a SUM, so this one projects the extended rows themselves.
    Both sides are thinned by DISJOINT modular filters, guaranteeing
    genuine unmatched rows on each side at any scale factor, then
    LEFT/RIGHT/FULL joined and projected through IS NULL flags,
    COALESCE over null-extended columns, and a CASE spanning both
    sides — exactly where an engine disagreeing on which rows get
    extended (ON-clause filter on the preserved vs null side) or on
    NULL propagation through the projection would diverge."""
    jt = rng.choice(["LEFT JOIN", "RIGHT JOIN", "FULL JOIN"])
    om, lm = rng.randint(2, 7), rng.randint(2, 7)
    o_filt = f"o_orderkey % {om} = 0"
    l_filt = f"l_orderkey % {lm} = 1"
    on_extra = ""
    if rng.random() < 0.5:
        side = rng.choice(["lineitem", "orders"])
        on_extra = f" AND ({_bool_expr(rng, side)})"
    where = ""
    r = rng.random()
    if r < 0.25:
        where = f" WHERE l_orderkey IS {rng.choice(['NULL', 'NOT NULL'])}"
    elif r < 0.4:
        where = f" WHERE COALESCE(l_linenumber, {rng.randint(0, 9)}) < 5"
    lexpr = _int_expr(rng, "lineitem")
    oexpr = _int_expr(rng, "orders")
    return (
        f"SELECT o_orderkey, l_orderkey, l_linenumber, "
        f"(l_orderkey IS NULL) AS l_ext, (o_orderkey IS NULL) AS o_ext, "
        f"COALESCE(({lexpr}), -1) AS lv, COALESCE(({oexpr}), -2) AS ov, "
        f"(CASE WHEN l_orderkey IS NULL THEN o_custkey "
        f"      WHEN o_orderkey IS NULL THEN l_partkey "
        f"      ELSE l_suppkey + o_custkey END) AS mixed "
        f"FROM (SELECT * FROM orders WHERE {o_filt}) "
        f"{jt} (SELECT * FROM lineitem WHERE {l_filt}) "
        f"ON l_orderkey = o_orderkey{on_extra}{where}"
    )


def _topk_query(rng: random.Random, table: str) -> str:
    """Deterministic ORDER BY (unique key as final tie-break) + LIMIT —
    the sort/limit layer with no ambiguity for either engine."""
    key = INT_COLS[table][0]
    e = _int_expr(rng, table)
    where = ""
    if rng.random() < 0.5:
        where = f" WHERE {_bool_expr(rng, table)}"
    direction = rng.choice(["ASC", "DESC"])
    return (
        f"SELECT {key}, ({e}) AS v FROM {table}{where} "
        f"ORDER BY v {direction} NULLS LAST, {UNIQUE_KEY[table]} "
        f"LIMIT {rng.randint(1, 50)}"
    )


def _window_query(rng: random.Random, table: str) -> str:
    """Window functions over a TOTAL ordering (unique key as the final
    ORDER BY tie-break) — rank/running-sum/lag semantics are only
    comparable cross-engine when the frame ordering is unambiguous,
    which is itself the determinism rule every curated window key
    follows (FIXTURES.md)."""
    key = INT_COLS[table][0]
    tiebreak = UNIQUE_KEY[table]
    part = rng.choice(
        [f"PARTITION BY {rng.choice(STR_COLS[table])} ",
         f"PARTITION BY (({rng.choice(INT_COLS[table])}) % {rng.randint(2, 8)}) ",
         ""]
    )
    order = (
        f"ORDER BY ({_int_expr(rng, table)}) "
        f"{rng.choice(['ASC', 'DESC'])} NULLS LAST, {tiebreak}"
    )
    fns = []
    for i, fam in enumerate(rng.sample(
        ["rank", "running", "lag", "ntile", "range_frame"], k=2
    )):
        if fam == "rank":
            fn = rng.choice(["ROW_NUMBER()", "RANK()", "DENSE_RANK()"])
            fns.append(f"{fn} OVER ({part}{order}) AS w{i}")
        elif fam == "running":
            agg = rng.choice(["SUM", "MIN", "MAX", "COUNT"])
            e = _int_expr(rng, table)
            fns.append(
                f"{agg}({e}) OVER ({part}{order} "
                f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS w{i}"
            )
        elif fam == "lag":
            e = _int_expr(rng, table)
            fns.append(
                f"LAG({e}, {rng.randint(1, 3)}) OVER ({part}{order}) AS w{i}"
            )
        elif fam == "range_frame":
            # round 11: VALUE-based frames — peers enter by ordering
            # value, not row position, so tie-breaks are irrelevant
            # and the frame itself is cross-engine-deterministic. The
            # ordering expression is COALESCE-wrapped: a NULL ordering
            # key's RANGE frame is an engine-convention corner the
            # grammar deliberately avoids (same rule as topk's NULLS
            # LAST), while NULLs still flow through the AGGREGATED
            # expression freely.
            agg = rng.choice(["SUM", "MIN", "MAX", "COUNT"])
            oexpr = f"COALESCE(({_int_expr(rng, table)}), 0)"
            e = _int_expr(rng, table)
            width = rng.randint(0, 500)
            fns.append(
                f"{agg}({e}) OVER ({part}ORDER BY {oexpr} ASC "
                f"RANGE BETWEEN {width} PRECEDING AND CURRENT ROW) AS w{i}"
            )
        else:
            fns.append(
                f"NTILE({rng.randint(2, 7)}) OVER ({part}{order}) AS w{i}"
            )
    where = ""
    if rng.random() < 0.4:
        where = f" WHERE {_bool_expr(rng, table)}"
    return f"SELECT {key}, {', '.join(fns)} FROM {table}{where}"


def _distinct_query(rng: random.Random, table: str) -> str:
    """DISTINCT aggregates — the dedup-inside-aggregation layer."""
    group = rng.choice(STR_COLS[table])
    e1 = _int_expr(rng, table)
    e2 = _int_expr(rng, table)
    where = ""
    if rng.random() < 0.5:
        where = f" WHERE {_bool_expr(rng, table)}"
    return (
        f"SELECT {group} AS g, COUNT(DISTINCT ({e1})) AS cd, "
        f"SUM(DISTINCT ({e2})) AS sd, COUNT(*) AS n "
        f"FROM {table}{where} GROUP BY {group}"
    )


def _subquery_query(rng: random.Random) -> str:
    """IN / NOT IN / EXISTS subqueries — three-valued-logic membership
    across a correlated boundary (NOT IN under NULLs is the classic
    trap; the generator keeps the subquery side non-null so both
    engines' results are well-defined and must agree)."""
    form = rng.choice(["in", "not_in", "exists", "not_exists"])
    sub_pred = _bool_expr(rng, "orders")
    if form in ("in", "not_in"):
        neg = "NOT " if form == "not_in" else ""
        return (
            f"SELECT c_custkey FROM customer "
            f"WHERE c_custkey {neg}IN "
            f"(SELECT o_custkey FROM orders WHERE {sub_pred})"
        )
    neg = "NOT " if form == "not_exists" else ""
    return (
        f"SELECT c_custkey FROM customer WHERE {neg}EXISTS "
        f"(SELECT 1 FROM orders WHERE o_custkey = c_custkey "
        f"AND ({sub_pred}))"
    )


def _rollup_query(rng: random.Random, table: str) -> str:
    """ROLLUP/CUBE with GROUPING() markers — subtotal rows emit NULL
    group keys, and GROUPING() is the only way to tell a rolled-up
    NULL from a data NULL; both engines must agree on the full
    subtotal lattice.

    NO WHERE clause by design: the fuzzer found (seed 0 / k 332) that
    on EMPTY input Spark's ROLLUP/CUBE returns zero rows while DuckDB
    emits the SQL-standard grand-total row (the () grouping set
    aggregates the empty relation to one row, like a bare COUNT(*)).
    That is a REAL engine divergence, pinned as a known-divergence
    test — not noise for the agreement sweep."""
    cols = rng.sample(STR_COLS[table], k=min(2, len(STR_COLS[table])))
    agg = rng.choice(["SUM", "MIN", "MAX", "COUNT"])
    e = _int_expr(rng, table)
    where = ""
    glist = ", ".join(cols)
    marks = ", ".join(
        f"CAST(GROUPING({c}) AS INTEGER) AS m{i}"
        for i, c in enumerate(cols)
    )
    form = rng.choice(["ROLLUP", "CUBE", "SETS"])
    if form == "SETS" and len(cols) == 2:
        # round 11: explicit GROUPING SETS — a random sublattice
        # (always including at least one non-empty set; the bare ()
        # set only alongside others, so the empty-input grand-total
        # divergence pinned for ROLLUP stays confined to that test)
        a_, b_ = cols
        lattice = rng.choice([
            f"(({a_}), ({a_}, {b_}))",
            f"(({a_}), ({b_}))",
            f"(({a_}, {b_}), ({b_}), ())",
            f"(({a_}), ({a_}, {b_}), ())",
        ])
        group = f"GROUPING SETS {lattice}"
    else:
        op = form if form != "SETS" else "ROLLUP"
        group = f"{op}({glist})"
    return (
        f"SELECT {glist}, {marks}, COUNT(*) AS n, {agg}({e}) AS a "
        f"FROM {table}{where} GROUP BY {group}"
    )


def _str_expr(rng: random.Random, table: str, depth: int = 0) -> str:
    """String-valued expression from the cross-engine-safe function
    subset: substr (1-based start only — negative-start semantics
    diverge), || concatenation (NULL-propagating in both), replace,
    trim, upper/lower, and CASE. No instr/strpos (names differ), no
    lpad with multi-char pads (edge conventions differ), no collation-
    sensitive comparisons beyond equality (covered by the curated
    fn_collation_aware key)."""
    col = rng.choice(STR_COLS[table])
    if depth >= 2:
        return rng.choice([col, f"'{rng.choice('abcxyz')}'"])
    kind = rng.choice(
        ["col", "upper", "lower", "substr", "concat", "replace", "trim",
         "case"]
    )
    if kind == "col":
        return col
    if kind == "upper":
        return f"upper({_str_expr(rng, table, depth + 1)})"
    if kind == "lower":
        return f"lower({_str_expr(rng, table, depth + 1)})"
    if kind == "substr":
        start = rng.randint(1, 4)
        ln = rng.randint(0, 6)
        return f"substr({_str_expr(rng, table, depth + 1)}, {start}, {ln})"
    if kind == "concat":
        a = _str_expr(rng, table, depth + 1)
        b = _str_expr(rng, table, depth + 1)
        return f"(({a}) || '_' || ({b}))"
    if kind == "replace":
        src = rng.choice("aeiou")
        dst = rng.choice("xyz")
        return f"replace({_str_expr(rng, table, depth + 1)}, '{src}', '{dst}')"
    if kind == "trim":
        return f"trim({_str_expr(rng, table, depth + 1)})"
    c = _bool_expr(rng, table, depth + 1)
    t = _str_expr(rng, table, depth + 1)
    f = _str_expr(rng, table, depth + 1)
    return f"(CASE WHEN {c} THEN {t} ELSE {f} END)"


def _string_query(rng: random.Random, table: str) -> str:
    """Project string-function compositions (plus a LIKE gate half the
    time) — sweeps the string layer under fn_string / fn_split_explode
    the way the int grammar sweeps arithmetic."""
    exprs = ", ".join(
        f"({_str_expr(rng, table)}) AS s{i}" for i in range(3)
    )
    key = INT_COLS[table][0]
    where = ""
    if rng.random() < 0.5:
        pat = rng.choice(["%a%", "_o%", "%t", "%e_", "%ur%"])
        where = f" WHERE {rng.choice(STR_COLS[table])} LIKE '{pat}'"
    return f"SELECT {key}, {exprs} FROM {table}{where}"


def _setop_query(rng: random.Random, table: str) -> str:
    """UNION / UNION ALL / INTERSECT / EXCEPT (+ ALL variants) between
    two filtered projections of the same table — ANSI defaults
    (DISTINCT unless ALL) and bag-vs-set semantics must agree; the
    curated set_* keys pin single cases, this sweeps the space."""
    op = rng.choice(
        ["UNION", "UNION ALL", "INTERSECT", "EXCEPT",
         "INTERSECT ALL", "EXCEPT ALL"]
    )
    scol = rng.choice(STR_COLS[table])
    e1 = _int_expr(rng, table)
    e2 = _int_expr(rng, table)
    b1 = _bool_expr(rng, table)
    b2 = _bool_expr(rng, table)
    return (
        f"SELECT {scol} AS s, ({e1}) % 50 AS v FROM {table} WHERE {b1} "
        f"{op} "
        f"SELECT {scol} AS s, ({e2}) % 50 AS v FROM {table} WHERE {b2}"
    )


def _nested_agg_query(rng: random.Random, table: str) -> str:
    """Aggregate-of-aggregate: an inner GROUP BY rollup re-grouped by a
    banding of its own aggregate (the rec_user_activity /
    tpch_q13_customer_distribution shape) — exercises grouping on a
    DERIVED aggregate value, where an engine folding the outer group
    expression differently would diverge."""
    inner_key = rng.choice(INT_COLS[table])
    e = _int_expr(rng, table)
    band = rng.randint(2, 20)
    outer_agg = rng.choice(["SUM", "MIN", "MAX"])
    where = ""
    if rng.random() < 0.5:
        where = f" WHERE {_bool_expr(rng, table)}"
    return (
        f"SELECT (n % {band}) AS g2, COUNT(*) AS n_groups, "
        f"{outer_agg}(a) AS agg2 "
        f"FROM (SELECT {inner_key} AS g, COUNT(*) AS n, "
        f"      SUM({e}) AS a FROM {table}{where} GROUP BY {inner_key}) t "
        f"GROUP BY g2"
    )


def _scalar_subquery_query(rng: random.Random) -> str:
    """Correlated scalar subqueries in the SELECT list (round 12).
    Spark decorrelates these into left outer joins + aggregates — an
    optimizer REWRITE path none of the other shapes reach — while
    DuckDB executes a dependent join; any disagreement in the rewrite
    (dropped rows for match-less outer tuples, NULL vs 0 on empty
    groups, predicate placement) diverges the multiset. COUNT(*) over
    an empty correlated group must be 0, aggregates over it NULL
    (COALESCE-pinned so the projected types stay integer in both
    engines). An uncorrelated scalar comparison in WHERE rides along
    under a coin flip."""
    pred = _bool_expr(rng, "orders")
    agg = rng.choice(["SUM", "MIN", "MAX"])
    e = _int_expr(rng, "orders")
    where = ""
    if rng.random() < 0.5:
        where = (
            f" WHERE (c_custkey % 53) < "
            f"((SELECT COUNT(*) FROM orders WHERE {_bool_expr(rng, 'orders')}) % 37)"
        )
    return (
        f"SELECT c_custkey, "
        f"(SELECT COUNT(*) FROM orders WHERE o_custkey = c_custkey "
        f"AND ({pred})) AS n_ord, "
        f"COALESCE((SELECT {agg}({e}) FROM orders "
        f"WHERE o_custkey = c_custkey), 0) AS agg_ord "
        f"FROM customer{where}"
    )


def _cte_query(rng: random.Random, table: str) -> str:
    """Multi-CTE chains with the first CTE referenced TWICE — once
    directly, once through the second CTE (round 12). Exercises WITH
    resolution and common-subplan handling: an engine that caches,
    inlines, or re-executes the shared CTE inconsistently (predicate
    pushed into one consumer but not the other, different dedup of the
    subtree) diverges on the join-back aggregate."""
    g = rng.choice(STR_COLS[table])
    e0 = _int_expr(rng, table)
    e1 = _int_expr(rng, table)
    agg = rng.choice(["SUM", "MIN", "MAX"])
    where = ""
    if rng.random() < 0.7:
        where = f" WHERE {_bool_expr(rng, table)}"
    return (
        f"WITH base AS (SELECT {g} AS g, ({e0}) AS e0, ({e1}) AS e1 "
        f"FROM {table}{where}), "
        f"per_g AS (SELECT g, COUNT(*) AS n, {agg}(e0) AS a FROM base "
        f"GROUP BY g) "
        f"SELECT b.g, MIN(p.n) AS n, MIN(p.a) AS a, COUNT(*) AS m, "
        f"SUM(b.e1) AS t "
        f"FROM base b JOIN per_g p ON b.g = p.g GROUP BY b.g"
    )


def _distinct_agg_query(rng: random.Random, table: str) -> str:
    """DISTINCT aggregates mixed with plain ones in a grouped query
    (round 12). Spark rewrites mixed distinct/non-distinct aggregates
    into an Expand + double aggregate; DuckDB keeps per-aggregate
    distinct hash tables — a disagreement in either rewrite (expanded
    rows leaking into the plain aggregates, NULL handling in the
    distinct set) diverges the totals. COUNT(DISTINCT) and
    SUM(DISTINCT) over mod-reduced expressions keep the distinct sets
    small enough that both code paths see real collisions at any SF."""
    g = rng.choice(STR_COLS[table])
    e0 = _int_expr(rng, table)
    e1 = _int_expr(rng, table)
    e2 = _int_expr(rng, table)
    m = rng.randint(5, 97)
    fn = rng.choice(["SUM", "MIN", "MAX"])
    where = ""
    if rng.random() < 0.5:
        where = f" WHERE {_bool_expr(rng, table)}"
    return (
        f"SELECT {g} AS g, COUNT(*) AS n, "
        f"COUNT(DISTINCT ({e0}) % {m}) AS nd, "
        f"SUM(DISTINCT ({e1}) % {m}) AS sd, "
        f"{fn}({e2}) AS a "
        f"FROM {table}{where} GROUP BY {g}"
    )


def _window_nulls_query(rng: random.Random, table: str):
    """Window null-semantics (round 13): the two cross-engine
    divergence families the curated win_* keys only cover on fixed
    shapes.

    Sub-mode ``order_nulls`` (same text): explicit NULLS FIRST / NULLS
    LAST inside the window ORDER BY over a NULLIF-seeded (i.e.
    genuinely nullable) ordering expression — the engines' DEFAULT
    null placement differs (Spark ASC→NULLS FIRST, DuckDB→NULLS LAST),
    so every ordering here is fully explicit and the unique key breaks
    ties into a total order (the grammar's standing determinism rule).

    Sub-mode ``ignore_nulls`` (dual text): LAG/LEAD(e,1) and
    FIRST/LAST_VALUE(e) with IGNORE NULLS on the Spark side; DuckDB
    1.0 cannot parse IGNORE NULLS, so its side states the same
    semantics independently as arg_min/arg_max(e, key) FILTER (WHERE e
    IS NOT NULL) over the equivalent ROWS frame (ordering restricted
    to the unique key ASC, so frame order == key order and arg_min/
    arg_max over the key are exactly first/last non-null in frame).
    Agreement therefore checks Spark's IGNORE NULLS implementation
    against an independent formulation, not just a reparse."""
    key = UNIQUE_KEY[table].split()[0]
    part = rng.choice(
        [f"PARTITION BY {rng.choice(STR_COLS[table])} ",
         f"PARTITION BY (({rng.choice(INT_COLS[table])}) % {rng.randint(2, 8)}) ",
         ""]
    )
    where = ""
    if rng.random() < 0.4:
        where = f" WHERE {_bool_expr(rng, table)}"
    if rng.random() < 0.5:
        # -- order_nulls: same text both engines --
        nullable = (
            f"NULLIF(({_int_expr(rng, table)}), {rng.randint(0, 50)})"
        )
        order = (
            f"ORDER BY {nullable} {rng.choice(['ASC', 'DESC'])} "
            f"{rng.choice(['NULLS FIRST', 'NULLS LAST'])}, {key} ASC"
        )
        fns = []
        for i, fam in enumerate(rng.sample(
            ["rank", "navigate", "running", "edge"], k=2
        )):
            if fam == "rank":
                fn = rng.choice(["ROW_NUMBER()", "RANK()", "DENSE_RANK()"])
                fns.append(f"{fn} OVER ({part}{order}) AS w{i}")
            elif fam == "navigate":
                fn = rng.choice(["LAG", "LEAD"])
                e = _int_expr(rng, table)
                fns.append(
                    f"{fn}({e}, {rng.randint(1, 3)}) "
                    f"OVER ({part}{order}) AS w{i}"
                )
            elif fam == "running":
                agg = rng.choice(["SUM", "MIN", "MAX", "COUNT"])
                e = _int_expr(rng, table)
                fns.append(
                    f"{agg}({e}) OVER ({part}{order} ROWS BETWEEN "
                    f"UNBOUNDED PRECEDING AND CURRENT ROW) AS w{i}"
                )
            else:
                fn = rng.choice(["FIRST_VALUE", "LAST_VALUE"])
                e = _int_expr(rng, table)
                fns.append(
                    f"{fn}({e}) OVER ({part}{order} ROWS BETWEEN "
                    f"UNBOUNDED PRECEDING AND CURRENT ROW) AS w{i}"
                )
        return f"SELECT {key}, {', '.join(fns)} FROM {table}{where}"
    # -- ignore_nulls: dual text --
    order = f"ORDER BY {key} ASC"
    s_fns, d_fns = [], []
    for i in range(2):
        e = f"NULLIF(({_int_expr(rng, table)}), {rng.randint(0, 50)})"
        form = rng.choice(["first", "last", "lag", "lead"])
        if form == "first":
            s_fns.append(
                f"FIRST_VALUE({e}) IGNORE NULLS OVER ({part}{order} "
                f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS w{i}"
            )
            d_fns.append(
                f"arg_min({e}, {key}) FILTER (WHERE ({e}) IS NOT NULL) "
                f"OVER ({part}{order} ROWS BETWEEN UNBOUNDED PRECEDING "
                f"AND CURRENT ROW) AS w{i}"
            )
        elif form == "last":
            s_fns.append(
                f"LAST_VALUE({e}) IGNORE NULLS OVER ({part}{order} "
                f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS w{i}"
            )
            d_fns.append(
                f"arg_max({e}, {key}) FILTER (WHERE ({e}) IS NOT NULL) "
                f"OVER ({part}{order} ROWS BETWEEN UNBOUNDED PRECEDING "
                f"AND CURRENT ROW) AS w{i}"
            )
        elif form == "lag":
            s_fns.append(
                f"LAG({e}, 1) IGNORE NULLS OVER ({part}{order}) AS w{i}"
            )
            d_fns.append(
                f"arg_max({e}, {key}) FILTER (WHERE ({e}) IS NOT NULL) "
                f"OVER ({part}{order} ROWS BETWEEN UNBOUNDED PRECEDING "
                f"AND 1 PRECEDING) AS w{i}"
            )
        else:
            s_fns.append(
                f"LEAD({e}, 1) IGNORE NULLS OVER ({part}{order}) AS w{i}"
            )
            d_fns.append(
                f"arg_min({e}, {key}) FILTER (WHERE ({e}) IS NOT NULL) "
                f"OVER ({part}{order} ROWS BETWEEN 1 FOLLOWING "
                f"AND UNBOUNDED FOLLOWING) AS w{i}"
            )
    return (
        f"SELECT {key}, {', '.join(s_fns)} FROM {table}{where}",
        f"SELECT {key}, {', '.join(d_fns)} FROM {table}{where}",
    )


def _exists_corr_query(rng: random.Random) -> str:
    """Correlated EXISTS / NOT EXISTS decorrelation (round 13): Spark
    rewrites these into left-semi / left-anti joins (with a
    BroadcastNestedLoop fallback when the correlated condition is
    non-equi); DuckDB plans a (dependent) semi/anti join directly. The
    r12 grammar covered correlated SCALAR subqueries; this production
    is the matching membership-side gap the r12 verdict names:

    - a non-equi correlated conjunct alongside the key equality
      (``inner_expr < outer_col``) — the rewrite can no longer ride a
      pure equi-join;
    - NULLIF-seeded correlated comparisons, so the correlated
      predicate itself goes UNKNOWN on real rows (3VL across the
      subquery boundary — an UNKNOWN match must not satisfy EXISTS,
      and under NOT EXISTS the row must survive);
    - an optionally aggregating outer block, so decorrelation composes
      with a downstream groupBy;
    - a ``not_in_nulls`` sub-form: [NOT] IN where BOTH sides are
      nullable expressions (x NOT IN S with NULL ∈ S or x IS NULL
      filters the row — the classic trap; curated key
      subq_not_in_nulls pins the fixed shape, this sweeps it)."""
    outer, inner, okey, ikey = rng.choice(
        [("customer", "orders", "c_custkey", "o_custkey"),
         ("orders", "lineitem", "o_orderkey", "l_orderkey")]
    )
    form = rng.choice(["exists", "not_exists", "in_nulls", "not_in_nulls"])
    if form in ("in_nulls", "not_in_nulls"):
        neg = "NOT " if form == "not_in_nulls" else ""
        ox = f"NULLIF(({_int_expr(rng, outer)}), {rng.randint(0, 50)})"
        ix = f"NULLIF(({_int_expr(rng, inner)}), {rng.randint(0, 50)})"
        where = ""
        if rng.random() < 0.6:
            where = f" WHERE {_bool_expr(rng, inner)}"
        return (
            f"SELECT {okey} FROM {outer} "
            f"WHERE ({ox}) {neg}IN (SELECT {ix} FROM {inner}{where})"
        )
    neg = "NOT " if form == "not_exists" else ""
    conds = [f"{inner}.{ikey} = {outer}.{okey}"]
    if rng.random() < 0.7:
        conds.append(f"({_bool_expr(rng, inner)})")
    if rng.random() < 0.7:
        # non-equi / nullable correlated conjunct
        ie = _int_expr(rng, inner)
        if rng.random() < 0.5:
            ie = f"NULLIF(({ie}), {rng.randint(0, 50)})"
        op = rng.choice(["<", "<=", ">", ">="])
        oc = rng.choice(INT_COLS[outer])
        conds.append(f"(({ie}) % 1000) {op} (({outer}.{oc}) % 1000)")
    sub = (
        f"SELECT 1 FROM {inner} WHERE {' AND '.join(conds)}"
    )
    if rng.random() < 0.4:
        g = rng.choice(STR_COLS[outer])
        e = _int_expr(rng, outer)
        return (
            f"SELECT {g} AS g, COUNT(*) AS n, SUM({e}) AS s "
            f"FROM {outer} WHERE {neg}EXISTS ({sub}) GROUP BY {g}"
        )
    e = _int_expr(rng, outer)
    return (
        f"SELECT {okey}, ({e}) AS e0 FROM {outer} "
        f"WHERE {neg}EXISTS ({sub})"
    )


def _membership_corr_query(rng: random.Random) -> str:
    """Correlated [NOT] IN membership (round 13, grammar v4): Spark
    rewrites correlated IN to a left-semi join and correlated NOT IN
    to a NULL-AWARE left-anti join — its single trickiest
    decorrelation. Prototyping this production found a REAL DuckDB 1.0
    divergence (pinned in tests/test_fuzz.py): DuckDB's CORRELATED IN
    flattens to an IS-NOT-DISTINCT-FROM semi join, so a NULL outer
    operand whose key's inner set contains NULL returns TRUE where the
    standard (and DuckDB's own UNCORRELATED path, and Spark) yields
    UNKNOWN → row filtered. The truth table was mapped exhaustively on
    a crafted table: in WHERE context every OTHER corner agrees
    cross-engine (non-null outer + NULL inner filters either way;
    correlated NOT IN matches the standard on all corners including
    NULL outer and empty inner sets). The grammar therefore
    COALESCE-wraps the outer operand for the IN form only, and leaves
    both sides NULLIF-nullable for NOT IN. Correlation stays
    equality-only (non-equi correlated conjuncts inside IN subqueries
    are not supported by Spark's rewrite; exists_corr covers those).

    The first targeted sweeps (seeds 1316-1317, then 1322-1323) then
    caught a FOURTH real divergence, also pinned, and bisected to its
    exact empirical trigger: when the inner operand evaluates NULL on
    EVERY row that survives the subquery's extra predicate
    (relation-wide, post-filter) AND such an extra predicate exists,
    DuckDB 1.0's correlated NOT IN filters EVERY outer row —
    including keys whose inner set is empty, which the standard
    (x NOT IN () = TRUE) and Spark keep. Verified non-triggers: bare
    correlation (no extra pred) is correct even with all-NULL
    operands at every emptiness mix; mixed NULL/value operands are
    correct WITH predicates (including per-key-homogeneous NULL
    patterns); only post-filter relation-wide all-NULL + extra-pred
    breaks (the mark-join's null flag appears to degrade to a global
    property on that path). Since a random predicate can always carve
    out an all-NULL subset, the NOT IN form is made sound BY
    CONSTRUCTION via two sub-modes: (a) NULLIF-nullable inner operand
    with bare correlation only, (b) guaranteed-non-null inner operand
    (COALESCE onto the key column) with a random extra predicate —
    null-awareness then exercised from the outer side, which agrees
    cross-engine under predicates."""
    outer, inner, okey, ikey = rng.choice(
        [("customer", "orders", "c_custkey", "o_custkey"),
         ("orders", "lineitem", "o_orderkey", "l_orderkey")]
    )
    form = rng.choice(["in", "not_in"])
    m = rng.randint(5, 97)
    ox = f"NULLIF(({_int_expr(rng, outer)}) % {m}, {rng.randint(0, 20)})"
    if form == "in":
        ox = f"COALESCE({ox}, {rng.randint(0, 20)})"
    ie = _int_expr(rng, inner)
    conds = [f"{inner}.{ikey} = {outer}.{okey}"]
    with_pred = rng.random() < 0.6
    if form == "not_in" and with_pred:
        # sub-mode (b): extra predicate requires a provably
        # never-NULL inner operand (see the docstring's pinned
        # divergence); the key column is never NULL in the fixtures.
        ix = f"COALESCE((({ie}) % {m}), ({ikey}) % {m})"
    else:
        # sub-mode (a) for not_in (bare correlation), and the IN form
        # (safe with nullable inners under predicates — value-match
        # only in WHERE context)
        ix = f"NULLIF(({ie}) % {m}, {rng.randint(0, 20)})"
    if with_pred:
        conds.append(f"({_bool_expr(rng, inner)})")
    neg = "NOT " if form == "not_in" else ""
    sub = (
        f"SELECT {ix} FROM {inner} WHERE {' AND '.join(conds)}"
    )
    if rng.random() < 0.4:
        g = rng.choice(STR_COLS[outer])
        e = _int_expr(rng, outer)
        return (
            f"SELECT {g} AS g, COUNT(*) AS n, SUM({e}) AS s "
            f"FROM {outer} WHERE ({ox}) {neg}IN ({sub}) GROUP BY {g}"
        )
    e = _int_expr(rng, outer)
    return (
        f"SELECT {okey}, ({e}) AS e0 FROM {outer} "
        f"WHERE ({ox}) {neg}IN ({sub})"
    )


def _nn_int(rng: random.Random, table: str, bound: int) -> str:
    """Non-null, non-negative int expression in [0, bound) — same text
    in both engines. abs() BEFORE the mod keeps the dividend
    non-negative, so the engines' shared dividend-sign % convention
    never meets a negative operand; COALESCE removes NULLs (array
    elements, sequence bounds, and date offsets must be deterministic
    non-null values or the shapes hit engine-convention corners:
    DuckDB's list_distinct drops NULLs, generate_series(NULL,..) and
    a NULL interval multiplier propagate differently per context)."""
    e = _int_expr(rng, table)
    return f"(abs(COALESCE(({e}), {rng.randint(0, bound - 1)})) % {bound})"


def _array_hof_query(rng: random.Random, table: str):
    """Higher-order array functions (round 14, grammar v5): the
    dialect family directly under the curated fn_array /
    fn_array_transform / fn_array_higher_order keys and the sim_*
    cosine tier (JVM higher-order folds), previously oracle-checked
    only on fixed shapes. DUAL-TEXT: Spark's transform/filter/
    aggregate/array_* map to DuckDB's list_transform/list_filter/
    list_sum/list_* — same lambda syntax, different function names —
    so both sides are generated in parallel from one draw sequence.

    Arrays are built deterministically IN-QUERY from key columns
    (both engines see identical inputs, no fixture array column
    needed) via two constructors: explicit array(e1..ek) vs
    list_value(e1..ek), and ascending sequence(lo, lo+n) vs
    generate_series(lo, lo+n) (both END-INCLUSIVE; lo <= hi is
    guaranteed by construction because the engines DIVERGE on
    descending bounds: Spark sequence(5,2) counts down [5,4,3,2],
    DuckDB generate_series(5,2) is empty). Elements are non-null
    non-negative (_nn_int), so lambda % arithmetic stays in the
    engines' shared convention and DuckDB's null-dropping
    list_distinct matches Spark's null-keeping array_distinct.
    Sum-reductions pair Spark's aggregate(arr, 0, +) with DuckDB's
    list_sum and are drawn ONLY over constructed (provably non-empty)
    arrays: on EMPTY arrays Spark's fold returns the 0 init where
    list_sum returns NULL — a real divergence the grammar is sound
    against by construction (post-filter arrays get size/len or
    direct projection, never a sum)."""
    key = INT_COLS[table][0]

    def build_array():
        if rng.random() < 0.5:
            elems = ", ".join(
                _nn_int(rng, table, rng.randint(20, 200))
                for _ in range(rng.randint(2, 4))
            )
            return f"array({elems})", f"list_value({elems})"
        lo = _nn_int(rng, table, 6)
        n = _nn_int(rng, table, 5)
        bounds = f"({lo}), ({lo}) + ({n})"
        return f"sequence({bounds})", f"generate_series({bounds})"

    def lam() -> str:
        a, b = rng.randint(1, 9), rng.randint(0, 30)
        m = rng.randint(2, 97)
        return f"x -> (x * {a} + {b}) % {m}"

    def pred() -> str:
        p, r = rng.randint(2, 7), rng.randint(0, 6)
        cmp_ = rng.choice(["=", "!=", "<", ">="])
        return f"x -> x % {p} {cmp_} {r}"

    s_exprs, d_exprs = [], []
    for i in range(3):
        sa, da = build_array()
        form = rng.choice(
            ["xform_arr", "xform_first", "filter_size", "filter_arr",
             "agg_sum", "agg_minmax", "contains", "distinct_size"]
        )
        if form == "xform_arr":
            f_ = lam()
            s, d = f"transform({sa}, {f_})", f"list_transform({da}, {f_})"
        elif form == "xform_first":
            f_ = lam()
            s = f"element_at(sort_array(transform({sa}, {f_})), 1)"
            d = f"(list_sort(list_transform({da}, {f_})))[1]"
        elif form == "filter_size":
            p_ = pred()
            s = f"size(filter({sa}, {p_}))"
            d = f"len(list_filter({da}, {p_}))"
        elif form == "filter_arr":
            p_ = pred()
            s, d = f"filter({sa}, {p_})", f"list_filter({da}, {p_})"
        elif form == "agg_sum":
            s = f"aggregate({sa}, CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            d = f"list_sum({da})"
        elif form == "agg_minmax":
            mm = rng.choice(["min", "max"])
            s, d = f"array_{mm}({sa})", f"list_aggregate({da}, '{mm}')"
        elif form == "contains":
            v = _nn_int(rng, table, 40)
            s = f"array_contains({sa}, ({v}))"
            d = f"list_contains({da}, ({v}))"
        else:
            s = f"size(array_distinct({sa}))"
            d = f"len(list_distinct({da}))"
        s_exprs.append(f"{s} AS e{i}")
        d_exprs.append(f"{d} AS e{i}")
    where = ""
    if rng.random() < 0.5:
        where = f" WHERE {_bool_expr(rng, table)}"
    return (
        f"SELECT {key}, {', '.join(s_exprs)} FROM {table}{where}",
        f"SELECT {key}, {', '.join(d_exprs)} FROM {table}{where}",
    )


# Literal anchor dates for the date_arith shape: month-end, leap-day,
# year-boundary and century edges — the corners where day-clamping
# month arithmetic and DOY/quarter extraction actually differ if an
# engine gets them wrong.
_DATE_ANCHORS = (
    "DATE '2020-02-29'", "DATE '2019-01-31'", "DATE '2020-12-31'",
    "DATE '2000-03-01'", "DATE '1999-12-31'", "DATE '1996-02-29'",
)


def _date_expr(rng: random.Random, table: str, depth: int = 0):
    """(spark_text, duckdb_text) pair for a composed DATE expression.
    Same-text components: CAST(ts AS DATE), date + int (day
    arithmetic in BOTH engines), CAST(date_trunc(unit, d) AS DATE)
    (Spark returns TIMESTAMP, DuckDB DATE — the cast unifies),
    last_day, greatest/least. Dual-text: Spark add_months(d, n) vs
    DuckDB d + n * INTERVAL 1 MONTH (both clamp to month end —
    verified on Jan 31 + 1 mo and Mar 31 - 1 mo = Feb 29)."""
    if depth >= 2 or rng.random() < 0.35:
        if rng.random() < 0.4:
            a = rng.choice(_DATE_ANCHORS)
            return a, a
        col = rng.choice(TS_COLS[table])
        t = f"CAST({col} AS DATE)"
        return t, t
    kind = rng.choice(["add_days", "add_months", "trunc", "last_day", "gl"])
    ds, dd = _date_expr(rng, table, depth + 1)
    # offsets must be INT, not BIGINT: Spark's date + n requires
    # INT/SMALLINT/TINYINT and DuckDB has no +(DATE, BIGINT) overload,
    # and the fixture key columns (hence _nn_int) are int64
    if kind == "add_days":
        n = f"CAST((({_nn_int(rng, table, 400)}) - 200) AS INT)"
        return f"(({ds}) + {n})", f"(({dd}) + {n})"
    if kind == "add_months":
        n = f"CAST((({_nn_int(rng, table, 48)}) - 24) AS INT)"
        return (
            f"add_months(({ds}), {n})",
            f"CAST(({dd}) + {n} * INTERVAL 1 MONTH AS DATE)",
        )
    if kind == "trunc":
        u = rng.choice(["month", "quarter", "year", "week"])
        return (
            f"CAST(date_trunc('{u}', ({ds})) AS DATE)",
            f"CAST(date_trunc('{u}', ({dd})) AS DATE)",
        )
    if kind == "last_day":
        return f"last_day(({ds}))", f"last_day(({dd}))"
    fn = rng.choice(["greatest", "least"])
    d2s, d2d = _date_expr(rng, table, depth + 1)
    return (
        f"{fn}(({ds}), ({d2s}))",
        f"{fn}(({dd}), ({d2d}))",
    )


def _date_arith_query(rng: random.Random, table: str):
    """Date/interval arithmetic (round 14, grammar v5): the dialect
    family under the curated fn_date key, which is built around the
    KNOWN traps (dayofweek indexing, date_part naming) but was never
    swept compositionally. Compositions of day arithmetic, clamping
    month arithmetic, date_trunc, last_day and greatest/least over
    the fixture timestamp columns and literal month-end/leap-day
    anchors; projections mix the composed dates themselves, day
    differences (Spark datediff(a, b) vs DuckDB datediff('day', b,
    a) — argument ORDER differs), and EXTRACT parts (DAY/MONTH/YEAR/
    QUARTER/DOY agree; dayofweek is excluded — Spark is 1=Sunday,
    DuckDB 0=Sunday, a real indexing divergence the curated key
    handles explicitly). A grouped sub-mode aggregates COUNT/MIN/MAX
    over a month-truncation group key. Excluded by construction:
    months_between (31-day fractional convention exists only in
    Spark), week-part extraction beyond date_trunc('week') (both
    truncate to ISO Monday — verified — but WEEK part numbering
    conventions differ)."""
    key = INT_COLS[table][0]

    def one_proj(i: int):
        form = rng.choice(["date", "diff", "extract"])
        if form == "date":
            s, d = _date_expr(rng, table)
            return f"({s}) AS e{i}", f"({d}) AS e{i}"
        if form == "diff":
            a_s, a_d = _date_expr(rng, table)
            b_s, b_d = _date_expr(rng, table)
            return (
                f"datediff(({a_s}), ({b_s})) AS e{i}",
                f"datediff('day', ({b_d}), ({a_d})) AS e{i}",
            )
        part = rng.choice(["DAY", "MONTH", "YEAR", "QUARTER", "DOY"])
        s, d = _date_expr(rng, table)
        return (
            f"EXTRACT({part} FROM ({s})) AS e{i}",
            f"EXTRACT({part} FROM ({d})) AS e{i}",
        )

    if rng.random() < 0.3:
        gs, gd = _date_expr(rng, table, depth=1)
        g_s = f"CAST(date_trunc('month', ({gs})) AS DATE)"
        g_d = f"CAST(date_trunc('month', ({gd})) AS DATE)"
        a_s, a_d = _date_expr(rng, table)
        mm = rng.choice(["MIN", "MAX"])
        return (
            f"SELECT {g_s} AS g, COUNT(*) AS n, {mm}(({a_s})) AS m "
            f"FROM {table} GROUP BY {g_s}",
            f"SELECT {g_d} AS g, COUNT(*) AS n, {mm}(({a_d})) AS m "
            f"FROM {table} GROUP BY {g_d}",
        )
    s_projs, d_projs = [], []
    for i in range(3):
        s, d = one_proj(i)
        s_projs.append(s)
        d_projs.append(d)
    where = ""
    if rng.random() < 0.5:
        where = f" WHERE {_bool_expr(rng, table)}"
    return (
        f"SELECT {key}, {', '.join(s_projs)} FROM {table}{where}",
        f"SELECT {key}, {', '.join(d_projs)} FROM {table}{where}",
    )


# Mixed-sweep shape lists, by grammar version. The shape draw is
# rng.choice over this list, and random.choice consumes entropy as a
# function of len(list) — so APPENDING a shape silently changes the
# (seed, k) -> query mapping for every historical seed (r12 ADVICE).
# Documented sweep seeds therefore cite the grammar version they ran
# under; to reproduce a seed from an earlier round, pass its version
# (CLI arg 5, or gen_query(grammar=...)). Versions are strict prefixes
# of each other, newest shapes appended:
#   v1: rounds ≤11 mixed grammar, 13 shapes (outer_probe debuted r11).
#   v2: round 12 (+ scalar_subquery, cte, distinct_agg) — seeds
#       1200-1228 in ROUND12_NOTES.md / SURVEY.md ran under v2.
#   v3: round 13 (+ window_nulls, exists_corr) — seeds 1300–1314.
#   v4: round 13 late (+ membership_corr) — seeds 1315+.
#   v5: round 14 (+ array_hof, date_arith) — seeds 1400+.
_MIXED_SHAPES = [
    "grouped", "grouped", "filtered_scan", "join", "topk", "window",
    "distinct", "subquery", "rollup", "string", "setop", "nested_agg",
    "outer_probe", "scalar_subquery", "cte", "distinct_agg",
    "window_nulls", "exists_corr", "membership_corr",
    "array_hof", "date_arith",
]
GRAMMARS = {
    1: _MIXED_SHAPES[:13],
    2: _MIXED_SHAPES[:16],
    3: _MIXED_SHAPES[:18],
    4: _MIXED_SHAPES[:19],
    5: _MIXED_SHAPES,
}
GRAMMAR_VERSION = 5


def gen_query(
    seed: int,
    k: int,
    only_shape: str | None = None,
    grammar: int = GRAMMAR_VERSION,
):
    """Query k of a sweep is a pure function of (seed, k, grammar).
    Returns the SQL text, or a (spark_sql, duckdb_sql) pair for shapes
    whose construct one engine cannot parse (window_nulls' IGNORE
    NULLS sub-mode: DuckDB 1.0 has no IGNORE NULLS syntax, so the
    DuckDB side is an independent arg_min/arg_max FILTER formulation
    of the same semantics — a stronger cross-check than same-text)."""
    rng = random.Random((seed << 16) ^ k)
    table = rng.choice(TABLES)
    shape = only_shape or rng.choice(GRAMMARS[grammar])
    if shape == "array_hof":
        return _array_hof_query(rng, table)
    if shape == "date_arith":
        return _date_arith_query(
            rng, rng.choice(sorted(TS_COLS_TABLES))
        )
    if shape == "membership_corr":
        return _membership_corr_query(rng)
    if shape == "window_nulls":
        return _window_nulls_query(rng, rng.choice(sorted(UNIQUE_KEY)))
    if shape == "exists_corr":
        return _exists_corr_query(rng)
    if shape == "distinct_agg":
        return _distinct_agg_query(rng, table)
    if shape == "scalar_subquery":
        return _scalar_subquery_query(rng)
    if shape == "cte":
        return _cte_query(rng, table)
    if shape == "outer_probe":
        return _outer_probe_query(rng)
    if shape == "nested_agg":
        return _nested_agg_query(rng, table)
    if shape == "rollup":
        return _rollup_query(rng, table)
    if shape == "string":
        return _string_query(rng, table)
    if shape == "setop":
        return _setop_query(rng, table)
    if shape == "join":
        return _join_query(rng)
    if shape == "topk":
        return _topk_query(rng, rng.choice(sorted(UNIQUE_KEY)))
    if shape == "window":
        return _window_query(rng, rng.choice(sorted(UNIQUE_KEY)))
    if shape == "distinct":
        return _distinct_query(rng, table)
    if shape == "subquery":
        return _subquery_query(rng)
    if shape == "filtered_scan":
        exprs = ", ".join(
            f"({_int_expr(rng, table)}) AS e{i}" for i in range(3)
        )
        key = INT_COLS[table][0]
        return (
            f"SELECT {key}, {exprs} FROM {table} "
            f"WHERE {_bool_expr(rng, table)}"
        )
    group = rng.choice(
        [rng.choice(STR_COLS[table]),
         f"(({_int_expr(rng, table)}) % {rng.randint(2, 12)})"]
    )
    aggs = []
    for i in range(3):
        fn = rng.choice(["SUM", "MIN", "MAX", "COUNT"])
        aggs.append(f"{fn}({_int_expr(rng, table)}) AS a{i}")
    having = ""
    if rng.random() < 0.45:
        having = _having_clause(rng, table)
    where = ""
    if rng.random() < 0.6:
        where = f" WHERE {_bool_expr(rng, table)}"
    return (
        f"SELECT {group} AS g, COUNT(*) AS n, {', '.join(aggs)} "
        f"FROM {table}{where} GROUP BY {group}{having}"
    )


def run_differential(
    spark,
    sf_dir: str,
    seeds,
    only_shape: str | None = None,
    grammar: int = GRAMMAR_VERSION,
) -> list[str]:
    """Run each generated query through both engines; return mismatch
    descriptions (empty = all agree). ``only_shape`` restricts the
    grammar to one production (full-density targeted sweeps for a new
    shape — the mixed sweep gives each of the 13 shapes only ~8%
    density)."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)

    def norm(rows):
        out = []
        for r in rows:
            out.append(tuple(
                int(v) if isinstance(v, bool) is False and isinstance(v, int)
                else v
                for v in r
            ))
        return sorted(out, key=lambda t: tuple(
            (x is None, str(type(x)), str(x)) for x in t
        ))

    failures = []
    for seed, k in seeds:
        # positional (seed, k) stays first: tests monkeypatch
        # gen_query with (seed, k, *a, **kw) lambdas
        q = (
            gen_query(seed, k, only_shape, grammar=grammar)
            if only_shape
            else gen_query(seed, k, grammar=grammar)
        )
        # dual-text shapes return (spark_sql, duckdb_sql); same-text
        # shapes return one string for both engines
        s_q, d_q = q if isinstance(q, tuple) else (q, q)
        try:
            s_rows = [tuple(r) for r in spark.sql(s_q).collect()]
            d_rows = [tuple(r) for r in con.sql(d_q).fetchall()]
        except Exception as exc:  # noqa: BLE001
            # dual-text shapes: print each engine's text on its own
            # line — interpolating the raw tuple makes the repro line
            # unreadable (r13 ADVICE)
            repro = (
                f"  {q}" if s_q is d_q
                else f"  spark:  {s_q}\n  duckdb: {d_q}"
            )
            failures.append(f"seed={seed} k={k} ERROR {exc}\n{repro}")
            continue
        if norm(s_rows) != norm(d_rows):
            sn, dn = norm(s_rows), norm(d_rows)
            diff = next(
                (i for i, (a, b) in enumerate(zip(sn, dn)) if a != b),
                min(len(sn), len(dn)),
            )
            repro = (
                f"  {q}" if s_q is d_q
                else f"  spark:  {s_q}\n  duckdb: {d_q}"
            )
            failures.append(
                f"seed={seed} k={k} MISMATCH rows {len(sn)} vs {len(dn)}, "
                f"first diff at {diff}: "
                f"{sn[diff] if diff < len(sn) else '<none>'} vs "
                f"{dn[diff] if diff < len(dn) else '<none>'}\n{repro}"
            )
    return failures


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.001"
    seed = int(sys.argv[3]) if len(sys.argv) > 3 else 0
    only_shape = sys.argv[4] if len(sys.argv) > 4 else None
    grammar = int(sys.argv[5]) if len(sys.argv) > 5 else GRAMMAR_VERSION
    if grammar not in GRAMMARS:
        # fail with the valid version list instead of a bare KeyError
        # deep inside gen_query (r13 ADVICE)
        print(
            f"unknown grammar version {grammar!r}; "
            f"valid: {sorted(GRAMMARS)}",
            file=sys.stderr,
        )
        return 2
    if only_shape and only_shape not in _MIXED_SHAPES:
        print(
            f"unknown shape {only_shape!r}; "
            f"valid: {sorted(set(_MIXED_SHAPES))}",
            file=sys.stderr,
        )
        return 2

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from movierecommender_sentimentanalysissytem_spark.session import spark_session

    spark = spark_session("fuzz-differential")
    failures = run_differential(
        spark, sf_dir, [(seed, k) for k in range(n)], only_shape
    )
    for f in failures:
        print("FAIL", f)
    print(f"{n - len(failures)} agree, {len(failures)} mismatch")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
