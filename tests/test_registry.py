"""Registry contract invariants (SURVEY.md §5.2)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod


def test_all_oracle_keys_have_queries():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 90


def test_surveyed_inventory_keys_present():
    """Every SURVEY.md §2 inventory key the engine claims must exist."""
    from movierecommender_sentimentanalysissytem_spark.registry import (
        _SECTION2,
    )

    assert len(_SECTION2) == 89
    missing = _SECTION2 - set(entrymod.queries())
    assert not missing, f"missing inventory keys: {sorted(missing)}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"n_name", "revenue", "n_items"}


def test_queries_return_registration_order():
    """Registration order is the registry's only ordering rule:
    queries() lists every key in the order its module registered it,
    oracle_sql() lists the oracle-bearing subsequence of that order,
    and repeated calls agree."""
    from movierecommender_sentimentanalysissytem_spark import registry

    registry._load_all_modules()
    order = list(registry.QUERIES)
    assert list(registry.queries()) == order
    osql = registry.oracle_sql()
    assert list(osql) == [k for k in order if k in registry.ORACLES]
    assert list(registry.queries()) == order
    assert list(registry.oracle_sql()) == list(osql)


@pytest.mark.slow
def test_no_array_or_map_outputs_on_oracle_keys(spark):
    """Class guard for the r5 driver-red: the driver's pandas
    canonicalizer sorts result cells and crashes on list-typed values
    (``TypeError: unhashable type: 'list'`` — fn_array_setops,
    CORRECTNESS_r05.json). Struct cells (Row objects) and raw binary
    break the same sort, so the guard covers every non-atomic type.
    Any oracle-bearing key must therefore project composites as
    scalar encodings (the agg_collect ``concat_ws('|',
    sort_array(...))`` idiom), never raw. Most builders are lazy
    (schema only, no job), but a handful run eager actions during
    construction (e.g. dedup_clusters' connected-components loop
    counts and checkpoints), so the full 339-key sweep costs ~100 s
    at sf0.001 — the price of covering the whole driver-crash class
    with zero exemptions."""
    from pyspark.sql.types import (
        ArrayType,
        BinaryType,
        MapType,
        StructType,
    )

    qs = entrymod.queries()
    offenders = []
    for key in entrymod.oracle_sql():
        schema = qs[key](spark, "/root/testdata/sf0.001").schema
        bad = [
            f.name
            for f in schema.fields
            if isinstance(
                f.dataType, (ArrayType, MapType, StructType, BinaryType)
            )
        ]
        if bad:
            offenders.append((key, bad))
    assert not offenders, (
        "oracle-bearing keys with non-atomic output columns "
        f"(driver canonicalizer crashes on these): {offenders}"
    )


def test_order_sensitive_keys_exist_in_registry():
    """ORDER_SENSITIVE (the layout smoke's row-count exemption list)
    must stay tied to the registry: every entry names a registered key
    (a rename/removal goes red here instead of surfacing as a spurious
    DIFF in scripts/layout_smoke.py), and every entry has a reason to
    be exempt — partition-seeded samplers and the corrupt-file scanner
    are the only layout-dependent families (r9 ADVICE)."""
    from movierecommender_sentimentanalysissytem_spark.registry import (
        ORDER_SENSITIVE,
        queries,
    )

    unknown = ORDER_SENSITIVE - set(queries())
    assert not unknown, f"ORDER_SENSITIVE names unregistered keys: {unknown}"
    assert all(
        k.startswith(("sample_", "scan_ignore_corrupt"))
        for k in ORDER_SENSITIVE
    ), "unexpected family in ORDER_SENSITIVE — document why it is exempt"


def test_recall_artifact_covers_exactly_the_rows_only_keys():
    """RECALL.json (scripts/quality_report.py) is the driver-visible
    quality evidence for the keys the driver can only rows-only-check.
    Its key set must stay exactly the registry's no-oracle set: a new
    rows-only key without a quality metric goes red here, as does a
    stale artifact entry for a key that gained an oracle (r10 verdict
    item 2). Every recorded metric must also be passing its floor —
    a failing committed artifact is a regression, not evidence."""
    import json
    import os

    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "RECALL.json")
    with open(path) as f:
        artifact = json.load(f)
    qs = entrymod.queries()
    rows_only = set(qs) - set(entrymod.oracle_sql())
    assert set(artifact["keys"]) == rows_only, (
        set(artifact["keys"]) ^ rows_only
    )
    failing = [k for k, v in artifact["keys"].items() if not v["pass"]]
    assert not failing, f"RECALL.json records failing floors: {failing}"


def test_recall_artifact_matches_live_fixture_fingerprint():
    """RECALL.json's numbers are only evidence for the fixture bytes
    they were measured on. The artifact records a content fingerprint
    (md5 over every parquet byte per sf dir) at generation time; this
    test recomputes it against the live /root/testdata, so a driver
    fixture regeneration turns "remember to re-run quality_report"
    into a red test instead of a silently stale artifact (r11 verdict
    item 2). On failure: python scripts/quality_report.py && commit
    the refreshed RECALL.json."""
    import importlib.util
    import json
    import os

    root = os.path.dirname(os.path.dirname(__file__))
    spec = importlib.util.spec_from_file_location(
        "quality_report", os.path.join(root, "scripts", "quality_report.py")
    )
    qr = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(qr)
    with open(os.path.join(root, "RECALL.json")) as f:
        artifact = json.load(f)
    recorded = artifact.get("_fixture_fingerprint")
    assert recorded is not None, (
        "RECALL.json predates fixture fingerprinting — regenerate it"
    )
    live = qr.fixture_fingerprint()
    assert recorded == live, (
        "RECALL.json is stale: /root/testdata content changed since the "
        f"artifact was generated ({recorded} != {live}); re-run "
        "scripts/quality_report.py and commit the result"
    )
