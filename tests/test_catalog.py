"""Catalog / driver-contract integrity and cross-engine rounding."""

from __future__ import annotations

import json
import math
import re
import subprocess
import sys
from pathlib import Path

import duckdb
import pytest
from pyspark.sql import functions as F

from mousedatapipeline_spark.functions.rounding import (
    stable_round,
    stable_round_sql,
)
from mousedatapipeline_spark.plans import catalog


def test_every_query_has_matching_oracle_or_none():
    qs = catalog.all_queries()
    assert len(qs) >= 29
    for name, spec in qs.items():
        assert spec.name == name
        assert callable(spec.spark)
        assert spec.oracle is None or "SELECT" in spec.oracle.upper()


def test_entry_module_contract():
    import __spark_entry__ as e

    qs = e.queries()
    osql = e.oracle_sql()
    assert set(osql) <= set(qs)
    assert "q01_pricing_summary" in qs


@pytest.mark.parametrize("x", [
    1.0341375, -1.0341375, 0.0000005, 123456.9999995, 0.1 + 0.2, 2.5e-7,
    1e15 / 7, -0.3333333333,
])
def test_stable_round_agrees_with_duckdb(spark, x):
    s = spark.range(1).select(
        stable_round(F.lit(x)).alias("v")).collect()[0]["v"]
    d = duckdb.sql(f"SELECT {stable_round_sql(repr(x))} AS v").fetchone()[0]
    assert s == d or (math.isnan(s) and math.isnan(d))


def test_stable_round_is_close_to_true_round(spark):
    vals = [0.123456789, 7.5, -3.00000049, 42.0]
    for x in vals:
        got = spark.range(1).select(
            stable_round(F.lit(x)).alias("v")).collect()[0]["v"]
        assert abs(got - round(x, 6)) <= 1.1e-6


def _assert_order_policy(qs) -> None:
    """Every query WITHOUT a standing green row registers before every
    proven one (each correctness round samples a ~50-query prefix),
    rows-only checks go last within the unproven block, and proven
    queries follow least recently proven first."""
    names = list(qs)
    rounds = [catalog._proven_round(n) for n in names]
    first_proven = next((i for i, r in enumerate(rounds) if r), len(names))
    # no unproven query after the first proven one
    for n, r in zip(names[first_proven:], rounds[first_proven:]):
        assert r, f"unproven query {n!r} ranked after proven block"
    # rows-only checks yield the prefix to hash-gated ones: within the
    # unproven block no oracled query may rank after a rows-only one
    unproven = names[:first_proven]
    seen_rows_only = False
    for n in unproven:
        if qs[n].oracle is None:
            seen_rows_only = True
        else:
            assert not seen_rows_only, (
                f"oracled {n!r} ranked after a rows-only query")
    # least recently proven first
    assert rounds[first_proven:] == sorted(rounds[first_proven:])


def test_registration_order_is_verification_policy():
    """The catalog prefix is evidence policy, derived from the checked-out
    CORRECTNESS_r*.json ledger."""
    qs = catalog.all_queries()
    # a broken ledger root would silently leave everything unproven
    assert catalog._last_green(), "no CORRECTNESS_r*.json rows found"
    _assert_order_policy(qs)
    # every _CHANGED_AFTER name actually exists (typo guard)
    assert catalog._CHANGED_AFTER.keys() <= set(qs)


def test_all_queries_order_ignores_registration_order(monkeypatch):
    """Ties within a rank break by name: reversing the registry's
    insertion order (what a module import reorder does) leaves the
    catalog order unchanged."""
    before = list(catalog.all_queries())
    monkeypatch.setattr(catalog, "_REGISTRY",
                        dict(reversed(catalog._REGISTRY.items())))
    assert list(catalog.all_queries()) == before


@pytest.fixture
def ledger(tmp_path, monkeypatch):
    """Point the catalog's ledger at an empty ``tmp_path``; yields a
    writer of fake ``CORRECTNESS_rNN.json`` files from
    ``{query: hash_match}``."""
    monkeypatch.setattr(catalog, "_ROOT", tmp_path)
    catalog._last_green.cache_clear()

    def write(rnd: int, rows: dict) -> None:
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(
            {n: {"rows_match": h, "schema_match": h, "hash_match": h,
                 "err": None} for n, h in rows.items()}))
        catalog._last_green.cache_clear()

    yield write
    catalog._last_green.cache_clear()


def test_ledger_rows_only_and_red_rows_never_prove(ledger):
    ledger(1, {"u01_beam_analysis": None, "q02_order_census": False,
               "q01_pricing_summary": True})
    assert catalog._proven_round("u01_beam_analysis") == 0
    assert catalog._proven_round("q02_order_census") == 0
    assert catalog._proven_round("q01_pricing_summary") == 1


def test_ledger_change_unproves_until_a_later_round(ledger, monkeypatch):
    monkeypatch.setitem(catalog._CHANGED_AFTER, "q01_pricing_summary", 3)
    ledger(2, {"q01_pricing_summary": True})
    ledger(3, {"q01_pricing_summary": True})
    assert catalog._proven_round("q01_pricing_summary") == 0
    ledger(4, {"q01_pricing_summary": True})
    assert catalog._proven_round("q01_pricing_summary") == 4


def test_ledger_absent_leaves_everything_unproven(ledger):
    qs = catalog.all_queries()
    assert not catalog._last_green()
    assert not any(catalog._proven_round(n) for n in qs)
    _assert_order_policy(qs)


def test_ledger_least_recently_proven_first(ledger):
    ledger(1, {"q01_pricing_summary": True, "q02_order_census": True})
    ledger(2, {"q02_order_census": True, "q03_region_revenue": True})
    ledger(3, {"q04_asof_view_before_purchase": True})
    qs = catalog.all_queries()
    names = list(qs)
    assert names[-4:] == ["q01_pricing_summary", "q02_order_census",
                          "q03_region_revenue",
                          "q04_asof_view_before_purchase"]
    _assert_order_policy(qs)


def test_proven_query_never_composes_unproven_one():
    """Staleness must propagate through composition: if query X's plan
    function is called by query Y, an edit that stales X stales Y's
    results too, so Y may not stay proven while X is out (the r06
    review caught exactly this: s27 composes s02, whose shingle hash
    changed, but only s02 was staled).  Edges are detected as direct
    ``<registered_name>(`` call sites in the composer's source — shared
    non-query helpers (e.g. lsh_verified_edges) can't be tracked
    statically and still need the grep-for-callers discipline."""
    import inspect
    import re

    qs = catalog.all_queries()
    proven = {n for n in qs if catalog._proven_round(n)}
    calls: dict[str, set[str]] = {}
    for name, spec in qs.items():
        src = inspect.getsource(spec.spark)
        calls[name] = {other for other in qs
                       if other != name
                       and re.search(rf"\b{other}\s*\(", src)}
    # transitive closure
    changed = True
    while changed:
        changed = False
        for name, callees in calls.items():
            extra = set().union(*(calls[c] for c in callees)) - callees
            if extra:
                callees |= extra
                changed = True
    composed = {n: c for n, c in calls.items() if c}
    assert composed, "expected at least one composing query (s14->s02)"
    for name, callees in composed.items():
        if name in proven:
            # Rows-only queries (oracle=None: u01, m15) can never be
            # driver-proven BY DESIGN — their oracled contract twins
            # (u02, m18) are the proof mechanism, so a twin composing
            # its rows-only subject is the intended shape, not a leak.
            leaked = {c for c in callees
                      if c not in proven and qs[c].oracle is not None}
            assert not leaked, (
                f"{name!r} is driver-proven but composes unproven "
                f"{sorted(leaked)} — stale the composer too "
                f"(plans/catalog.py _CHANGED_AFTER)")


# composer -> the queries whose registered oracle it embeds verbatim
_COMPOSED_ORACLES = {
    "c04_quality_threshold_curve": ("t03_quality_score",),
    "t31_dedup_savings_by_source": ("t26_substring_removal",),
    "s25_ann_recall": ("s05_knn_cosine", "s06_ann_lsh"),
    "s33_cross_source_dup_matrix": ("s19_lsh_verified_neardup",),
    "s40_neardup_pagerank": ("s19_lsh_verified_neardup",),
    "s43_label_propagation": ("s19_lsh_verified_neardup",),
    "s34_quality_canonical": ("s14_neardup_components",
                              "t03_quality_score"),
    "s39_ivf_pq_index_build": ("s36_product_quantization",),
    "s42_matryoshka_recall": ("s05_knn_cosine",),
    "w01_stream_tumbling_counts": ("e01_tumbling_counts",),
    "w02_stream_sessionization": ("e02_sessionization",),
    "w10_stream_decontam": ("s18_bloom_decontam",),
    "w15_stream_compaction": ("c05_compaction_plan",),
    "q45_delta_join_maintenance": ("q34_bucketed_join_roundtrip",),
}

# an unfilled template slot ({body}, {s19}) or a stub (__C06_...__)
_UNFINISHED = re.compile(r"\{[a-z_]\w*\}|__[A-Z][A-Z0-9_]*__")


def test_composed_oracles_embed_their_parts_verbatim():
    """One source of truth: a composed oracle contains each part's
    registered oracle as a substring, so an edit to the part reaches
    the composer with no second copy to update."""
    qs = catalog.all_queries()
    for composer, parts in _COMPOSED_ORACLES.items():
        for part in parts:
            assert qs[part].oracle in qs[composer].oracle, (
                f"{composer!r} does not embed {part!r}'s oracle verbatim")


@pytest.mark.parametrize("module", [
    "relational_queries", "text_queries", "decontam_queries",
    "similarity_queries", "curation_queries", "streaming_queries"])
def test_plan_module_alone_registers_final_oracles(module):
    """Importing one plan module on its own, in a fresh interpreter,
    registers the same oracles as the full catalog: composition does
    not depend on catalog load order, and no stub is ever registered."""
    code = (
        "import importlib, json\n"
        f"importlib.import_module('mousedatapipeline_spark.plans.{module}')\n"
        "from mousedatapipeline_spark.plans.catalog import _REGISTRY\n"
        "print(json.dumps({n: s.oracle for n, s in _REGISTRY.items()}))\n")
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        cwd=Path(__file__).resolve().parents[1], timeout=300, check=True)
    alone = json.loads(out.stdout)
    full = {n: s.oracle for n, s in catalog.all_queries().items()}
    mine = [n for n, s in full.items()
            if s is not None and catalog._REGISTRY[n].spark.__module__
            .endswith(module)]
    assert mine and set(mine) <= set(alone)
    for name, oracle in alone.items():
        assert oracle == full[name], f"{name!r} differs when {module} " \
            "is imported alone"
        assert oracle is None or not _UNFINISHED.search(oracle), (
            f"{name!r} registered an unfinished oracle")
