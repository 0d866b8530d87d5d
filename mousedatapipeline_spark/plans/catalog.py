"""Query catalog: the single registry behind ``__spark_entry__``.

Every operator implemented from SURVEY.md §2 registers a ``QuerySpec``
here: a name, a Spark callable ``(spark, sf_dir) -> DataFrame``, and —
when SQL-expressible — an equivalent DuckDB oracle SQL string over the
same parquet tables. The driver hash-compares both at sf=0.01.

Conventions (required for the driver's order-insensitive value hash):
- alias every computed column identically in Spark and SQL;
- round floating-point aggregates on BOTH sides (Spark and DuckDB sum in
  different orders; per-row IEEE arithmetic matches bit-exactly, but
  reassociated sums and libm transcendentals do not);
- cast integer-ish outputs to BIGINT on both sides.

Sum doubles with ``aggregates.dsum`` on the Spark side and
``aggregates.dsum_sql`` in the oracle (the exact decimal accumulator).

A query that composes another query's oracle imports that query's
module at the top and reads ``_REGISTRY[name].oracle`` inside its own
``@register(oracle=...)``; ``register`` is the only writer of the
registry, and a spec is never replaced after registration.
"""

from __future__ import annotations

import functools
import importlib
import json
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark: SparkQuery
    oracle: str | None  # DuckDB SQL, None => rows-only check
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}

# Modules that register query specs on import.
_QUERY_MODULES = (
    "mousedatapipeline_spark.plans.relational_queries",
    "mousedatapipeline_spark.plans.mouse_queries",
    "mousedatapipeline_spark.plans.text_queries",
    "mousedatapipeline_spark.plans.decontam_queries",
    "mousedatapipeline_spark.plans.similarity_queries",
    "mousedatapipeline_spark.plans.curation_queries",
    "mousedatapipeline_spark.plans.events_queries",
    "mousedatapipeline_spark.plans.image_queries",
    "mousedatapipeline_spark.plans.streaming_queries",
    "mousedatapipeline_spark.plans.sketch_queries",
)


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator: register a (spark, sf_dir) -> DataFrame query."""
    def wrap(fn: SparkQuery) -> SparkQuery:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(name=name, spark=fn, oracle=oracle, doc=doc)
        return fn
    return wrap


_ATTEMPTED: set[str] = set()


def _load_all() -> None:
    for mod in _QUERY_MODULES:
        # Attempt each module at most once per process: a module that
        # registered some queries before raising would otherwise hit
        # the duplicate-name guard on every retry, masking the root
        # cause and spamming stderr.
        if mod in _ATTEMPTED:
            continue
        _ATTEMPTED.add(mod)
        try:
            importlib.import_module(mod)
        except Exception as exc:  # noqa: BLE001 - one broken module must
            # not erase the whole registry from the driver's view
            import sys
            import traceback
            print(f"CATALOG LOAD ERROR {mod}: {exc}", file=sys.stderr)
            traceback.print_exc()


# Registration order is evidence policy. Each correctness round re-proves
# a ~50-query prefix of the catalog against the oracles and records the
# rows in CORRECTNESS_rNN.json at the repo root. A hash-green row proves a
# query until its code changes (_CHANGED_AFTER). Unproven queries claim
# the prefix; proven ones follow, least recently proven first.
_ROOT = Path(__file__).resolve().parents[2]

# Queries whose code changed after the given round: a green row from that
# round or earlier no longer proves them. Drop an entry once re-proven.
_CHANGED_AFTER: dict[str, int] = {
    # operators/graph.py: driver-side connected components; s34 uses s14.
    # lsh_verified_edges: driver regime below the broadcast threshold
    # (c06, s19, and s33/s40/s43 through s19).
    **dict.fromkeys(("c06_production_dedup_e2e", "s14_neardup_components",
        "s21_semantic_dedup", "mm06_media_dedup_clusters",
        "s34_quality_canonical", "s19_lsh_verified_neardup",
        "s33_cross_source_dup_matrix", "s40_neardup_pagerank",
        "s43_label_propagation"), 11),
    # operators/similarity.py: one near-dup pair stage (band self-join,
    # hashed-set verify, lane compare, blocked overlap) for every caller;
    # s27 composes s02. The c06 and s14 (so s34) oracles now read the
    # shared CTE builders; c06's drops its redundant `b.lang = a.lang`.
    **dict.fromkeys(("s02_ngram_jaccard", "s03_minhash_lsh",
        "s22_incremental_neardup", "s24_containment_neardup",
        "s26_minhash_accuracy", "s27_triangle_count", "s28_threshold_sweep",
        "s29_bbit_minhash"), 11),
    # e01 aggregates with w01's hourly_counts.
    "e01_tumbling_counts": 11,
    # streaming/fold.py: w01-w16 rewritten on one drain-and-fold harness.
    **dict.fromkeys(("w01_stream_tumbling_counts", "w02_stream_sessionization",
        "w03_stream_dedup", "w04_stream_incremental_agg",
        "w05_stream_stream_join", "w06_stream_hll_users",
        "w07_stream_quantile_histogram", "w08_stream_session_window",
        "w09_stream_topk", "w10_stream_decontam",
        "w12_stream_running_profile", "w13_stream_bootstrap",
        "w14_stream_scd2", "w15_stream_compaction",
        "w16_stream_sliding_hll"), 11),
    # q39: per-write partitionOverwriteMode; q34: merge hint, no toggle.
    "q39_partition_backfill": 11, "q34_bucketed_join_roundtrip": 11,
    # q17/q21/q38: the forced customer broadcast is gone; the session's
    # threshold decides.
    **dict.fromkeys(("q17_rollup_revenue", "q21_pivot_status_counts",
        "q38_constraint_audit"), 11),
    # operators/aggregates.dvar: std from exact centred decimal sums.
    **dict.fromkeys(("m01_stacked_summary", "m05_pipeline_e2e",
        "m17_repetition_drift_qc", "q11_stack_stats"), 11),
}


@functools.cache
def _last_green() -> dict[str, int]:
    """``{query: newest round with a hash-green CORRECTNESS_rNN row}``."""
    last: dict[str, int] = {}
    for path in _ROOT.glob("CORRECTNESS_r[0-9]*.json"):
        rnd = int(path.stem.removeprefix("CORRECTNESS_r"))
        for name, row in json.loads(path.read_text()).items():
            if row.get("hash_match") is True:
                last[name] = max(last.get(name, 0), rnd)
    return last


def _proven_round(name: str) -> int:
    """Round of the query's standing proof, 0 if it has none."""
    rnd = _last_green().get(name, 0)
    return rnd if rnd > _CHANGED_AFTER.get(name, 0) else 0


def all_queries() -> dict[str, QuerySpec]:
    _load_all()
    # Within a round: oracled batch, oracled streaming, then rows-only;
    # ties by name, so the order never depends on module import order.
    def rank(item):
        n, s = item
        return (_proven_round(n), s.oracle is None, n.startswith("w"), n)
    return dict(sorted(_REGISTRY.items(), key=rank))


def spark_queries() -> dict[str, SparkQuery]:
    return {name: spec.spark for name, spec in all_queries().items()}


def oracle_sqls() -> dict[str, str]:
    return {name: spec.oracle for name, spec in all_queries().items()
            if spec.oracle is not None}
