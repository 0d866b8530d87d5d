"""Physical-plan assertions: the scale properties the engine is
designed around must be visible in the executed plan, not just claimed
in docstrings — broadcast joins for dimensions, column pruning into the
parquet scan, bounded shuffle counts, whole-stage codegen coverage.

These tests run the planner only (explain), not the queries, so they
are cheap and catch plan regressions (a lost broadcast hint, a new
accidental shuffle) immediately.
"""

from __future__ import annotations

import importlib.util
import os
import re
from pathlib import Path

import pytest

from mousedatapipeline_spark import scratch
from mousedatapipeline_spark.plans import catalog

SF_DIR = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")

_needs_data = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"no test data at {SF_DIR}")


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _plan(spark, name: str) -> str:
    """The executed plan of ``name``'s answer. A query that returns
    ``scratch.keep(answer)`` hands back a checkpoint scan, so for it
    this is the plan of the frame it kept, recorded on the way in."""
    key = "spark.sql.maxMetadataStringLength"
    prev = spark.conf.get(key)
    real_keep = scratch.keep
    kept = []

    def keep(df):
        kept.append(_executed(df))
        return real_keep(df)

    spark.conf.set(key, "2000")
    scratch.keep = keep
    try:
        df = catalog.all_queries()[name].spark(spark, SF_DIR)
        return kept[-1] if kept else _executed(df)
    finally:
        scratch.keep = real_keep
        spark.conf.set(key, prev)


def _optimized(spark, name: str) -> str:
    df = catalog.all_queries()[name].spark(spark, SF_DIR)
    return df._jdf.queryExecution().optimizedPlan().toString()


def _count_shuffles(plan: str) -> int:
    # Exchange nodes that move data between stages (not broadcasts,
    # not AQE re-reads of an already-shuffled stage).
    return len(re.findall(r"Exchange (?:hash|range|rangepartitioning|"
                          r"RoundRobinPartitioning|hashpartitioning)",
                          plan))


@_needs_data
def test_m01_has_exactly_one_data_shuffle(spark):
    """Window on batch THEN groupBy (batch, configuration): Spark
    recognizes that hash partitioning on `batch` already satisfies
    clustering on the superset key, so the whole query is ONE shuffle —
    any second Exchange is a regression."""
    plan = _plan(spark, "m01_stacked_summary")
    assert _count_shuffles(plan) == 1, plan


def _load_explain_dump():
    spec = importlib.util.spec_from_file_location(
        "_explain_dump", Path(__file__).resolve().parents[1] / "tools"
        / "explain_dump.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# Physical plans of the SQL executions whose jobs started in a job-id
# range, as tools/explain_dump.py writes them after a final plan.
_sql_plans = _load_explain_dump().sql_plans


@_needs_data
def test_mouse_program_reads_one_per_batch_table(spark):
    """The nostack program and m05 take the A4 maxima and the J3
    background from one narrow per-(ymd, batch) aggregate: no Window
    node, no Exchange that carries a row-level measurement column (only
    keys and aggregate buffers cross a shuffle), and the aggregate (the
    plans' only min_by) runs once, in the eager checkpoint the program
    build triggers. Its runs are counted by job-id range: one SQL
    execution among the build's jobs, none among the action's."""
    from mousedatapipeline_spark import pipeline as P
    from mousedatapipeline_spark.plans.mouse_queries import pipeline_inputs

    def nostack():
        m, logbook = pipeline_inputs(spark, SF_DIR)
        return P.nostack_program(logbook)(m)

    def m05():
        return catalog.all_queries()["m05_pipeline_e2e"].spark(spark, SF_DIR)

    row_cols = set(pipeline_inputs(spark, SF_DIR)[0].columns) - {
        "ymd", "batch", "configuration"}
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    for name, build in (("nostack", nostack), ("m05", m05)):
        j0 = dag.nextJobId()
        df = build()
        j1 = dag.nextJobId()
        df.write.format("noop").mode("overwrite").save()
        j2 = dag.nextJobId()
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        assert not re.search(r"\bWindow \(\d+\)", plan), (name, plan)
        for cols in re.findall(r"\) Exchange\s*\nInput \[\d+\]: \[([^\]]*)\]",
                               plan):
            carried = {c.split("#")[0] for c in cols.split(", ")}
            assert not carried & row_cols, (name, cols)
        build_aggs = [p for p in _sql_plans(spark, j0, j1) if "min_by" in p]
        action_aggs = [p for p in _sql_plans(spark, j1, j2) if "min_by" in p]
        assert (len(build_aggs), len(action_aggs)) == (1, 0), name


@_needs_data
def test_m03_scan_prunes_columns(spark):
    """The metrics projection reads 6 of lineitem's 16 columns; the
    pruned schema must reach the parquet scan."""
    plan = _plan(spark, "m03_flux_thickness_table")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    read_cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert "l_comment" not in read_cols
    assert read_cols <= {"l_orderkey", "l_linenumber", "l_shipdate",
                         "l_extendedprice", "l_discount", "l_tax",
                         "l_quantity", "l_suppkey"}


@_needs_data
def test_m02_background_join_is_broadcast(spark):
    plan = _plan(spark, "m02_background_thickness")
    assert "BroadcastHashJoin" in plan, plan


@_needs_data
def test_t05_df_table_join_is_broadcast(spark):
    plan = _plan(spark, "t05_tfidf")
    assert "BroadcastHashJoin" in plan, plan


@_needs_data
def test_s05_knn_query_side_is_broadcast(spark):
    """The <=10 query vectors broadcast as whole arrays against the
    candidate scan (keyless product -> BroadcastNestedLoopJoin with the
    query side as the build side); the candidate table must NOT
    shuffle before the final top-k window."""
    plan = _plan(spark, "s05_knn_cosine")
    assert ("BroadcastNestedLoopJoin" in plan
            or "BroadcastHashJoin" in plan), plan
    assert _count_shuffles(plan) == 1, plan  # only the top-k window


@_needs_data
def test_filter_pushdown_reaches_scan(spark):
    """m06 filters part to p_partkey < 300; the predicate must appear as
    a parquet PushedFilters entry, not a post-scan Filter only."""
    plan = _plan(spark, "m06_asof_mask")
    assert re.search(r"PushedFilters: \[.*LessThan\(p_partkey,300\)",
                     plan), plan


@_needs_data
def test_text_queries_have_no_shuffle(spark):
    """Per-document text analysis is a narrow projection — any Exchange
    is a regression."""
    for name in ("t01_token_stats", "t02_language_id",
                 "t03_quality_score", "t04_fingerprint"):
        plan = _plan(spark, name)
        assert _count_shuffles(plan) == 0, (name, plan)


@_needs_data
def test_simhash_signatures_no_shuffle_before_blocking(spark):
    """s04: the scan spread (load_spread, r10 — the tokenize+16-bit-lane
    simhash work is scan-stage CPU), the block groupBy, and the pair
    redistribution; signature computation itself must not add a
    per-permutation shuffle (the failure mode this test exists for —
    an explode-per-permutation + groupBy signature would add
    N_PERM-fold shuffle volume)."""
    plan = _plan(spark, "s04_simhash")
    assert _count_shuffles(plan) <= 3, plan


@_needs_data
def test_whole_stage_codegen_covers_physics(spark):
    """The physics expression chain must run inside WholeStageCodegen
    (no interpreted projections in the hot path)."""
    plan = _plan(spark, "q09_thickness_physics")
    # codegen stages are marked `*(n)` in the executed-plan string
    assert "*(1)" in plan, plan


@_needs_data
def test_asof_join_single_shuffle(spark):
    """The union+carry-forward as-of join is one window shuffle (plus
    the tiny mask-side scan) — never a pair-exploding join."""
    plan = _plan(spark, "m06_asof_mask")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# Queries that INTENTIONALLY broadcast a tiny keyless side (O(10) query
# vectors / O(10) centroid arrays) against a scan — a broadcast product
# whose build side is constant-size is scale-safe; the ban below is for
# ACCIDENTAL nested loops over two big sides.
_INTENTIONAL_BROADCAST_PRODUCT = {"s05_knn_cosine", "s08_ann_ivf",
                                  "s10_kmeans_ivf",
                                  # 1-row total broadcast (scalar-
                                  # subquery shape): k01 gates its
                                  # heavy-hitter threshold, t14 scales
                                  # by the corpus token total
                                  "k01_cms_heavy_hitters",
                                  # 1-row corpus-total broadcast onto
                                  # the top-k vocab rows (scalar-
                                  # subquery shape, see t12's rewrite)
                                  "t12_vocab_coverage",
                                  # |types|^2 pair spine cross (tiny,
                                  # broadcast) for HLL set algebra
                                  "k03_hll_set_ops",
                                  "t14_unigram_surprisal",
                                  # 1-row target/corpus totals joined
                                  # to the feature stream (same shape)
                                  "t28_dsir_importance",
                                  "c03_mixture_plan",
                                  # 1-row global stats x 1-row top-10
                                  # sum (scalar-subquery shape)
                                  "e13_skew_report",
                                  # 1-row max-date anchor broadcast
                                  "e20_decayed_engagement",
                                  "q40_point_in_time_lookup",
                                  # calendar-sized day spine broadcast
                                  # against the deduped (day, user)
                                  # pairs — bounded non-equi condition
                                  "e16_rolling_active_users",
                                  # compose s05, inheriting its
                                  # declared brute-force product
                                  "s25_ann_recall",
                                  "s42_matryoshka_recall",
                                  # exact-baseline brute-force product
                                  # (s05 shape) + 3-row probe spine
                                  "s37_ivf_probe_sweep",
                                  # 1-row weight-vector broadcasts per
                                  # unrolled gradient step
                                  "q44_logistic_regression_steps",
                                  # 10-row prefix-grid broadcast with
                                  # bounded non-equi cut condition
                                  "t33_heaps_fit",
                                  # 1-row totals broadcast to the
                                  # bucket contrast table
                                  "t34_corpus_drift",
                                  # 1-row (n_docs, total_tokens) corpus
                                  # stats broadcast into the tf stream
                                  "t36_bm25_topk",
                                  # 1-row sketch estimate x 1-row exact
                                  "k04_join_size_estimate"}


@_needs_data
def test_no_query_uses_cartesian_or_nested_loop(spark):
    for name, spec in catalog.all_queries().items():
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        if name not in _INTENTIONAL_BROADCAST_PRODUCT:
            assert "BroadcastNestedLoopJoin" not in plan, name


@_needs_data
def test_e03_range_join_is_equi_not_nested_loop(spark):
    """The band join must plan as a shuffle/broadcast EQUI-join on
    (user_id, bucket) — a BroadcastNestedLoopJoin or CartesianProduct
    would be the O(n^2) plan the bucketing exists to avoid."""
    plan = _plan(spark, "e03_range_join_attribution")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


@_needs_data
def test_s12_sampling_filter_is_scan_stage(spark):
    """The stratified-sample membership predicate is a plain column
    expression: it must evaluate in the scan stage — zero Exchanges in
    the whole plan, no shuffle at any rate/stratum combination."""
    plan = _plan(spark, "s12_stratified_sample")
    assert _count_shuffles(plan) == 0, plan


@_needs_data
def test_q17_rollup_is_single_expand_aggregate(spark):
    """ROLLUP compiles to one Expand + hash aggregate: exactly one
    data shuffle (the agg), every dimension join broadcast."""
    plan = _plan(spark, "q17_rollup_revenue")
    assert plan.count("Expand") >= 1, plan
    assert _count_shuffles(plan) == 1, plan
    assert "BroadcastHashJoin" in plan, plan


@_needs_data
def test_q18_diff_joins_without_broadcast_nor_extra_shuffle(spark):
    """CDC diff = one full-outer join: two scan-side Exchanges (one per
    snapshot) and nothing else; change-compare adds no shuffle."""
    plan = _plan(spark, "q18_snapshot_diff")
    assert "FullOuter" in plan, plan
    assert _count_shuffles(plan) == 2, plan


@_needs_data
def test_t09_repetition_is_zero_shuffle(spark):
    """Repetition signals are row-local array expressions: the whole
    query must plan as a single scan stage with no Exchange."""
    plan = _plan(spark, "t09_repetition_signals")
    assert _count_shuffles(plan) == 0, plan


def test_bucketed_join_has_zero_exchanges(spark, tmp_path):
    """Two tables bucketed on the join key by the same bucket count
    must sort-merge join with NO Exchange at all — the co-location
    contract write_bucketed exists for."""
    from mousedatapipeline_spark.sources.sinks import write_bucketed
    a = spark.range(1000).selectExpr("id AS k", "id * 2 AS va")
    b = spark.range(1000).selectExpr("id AS k", "id * 3 AS vb")
    write_bucketed(a, "bt_a", ["k"], 8, sort_cols=["k"],
                   path=str(tmp_path / "bt_a"))
    write_bucketed(b, "bt_b", ["k"], 8, sort_cols=["k"],
                   path=str(tmp_path / "bt_b"))
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "-1")
        j = spark.table("bt_a").join(spark.table("bt_b"), "k")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert j.count() == 1000
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
        spark.sql("DROP TABLE IF EXISTS bt_a")
        spark.sql("DROP TABLE IF EXISTS bt_b")


@_needs_data
def test_q20_cube_is_single_expand_aggregate(spark):
    """CUBE must plan as one scan + Expand + aggregation, not a union
    of per-grouping-set scans: 4 grouping sets, 1 fact scan."""
    plan = _plan(spark, "q20_cube_revenue")
    assert plan.count("Scan parquet") == 1, plan
    assert "Expand" in plan, plan


@_needs_data
def test_q21_pivot_single_pass_broadcast(spark):
    """Pinned pivot values => no extra distinct-values job; the
    customer dim joins broadcast; one shuffle for the final groupBy."""
    plan = _plan(spark, "q21_pivot_status_counts")
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("Scan parquet") == 2, plan  # orders + customer only


@_needs_data
def test_q23_exists_is_semi_join(spark):
    """The correlated EXISTS must decorrelate to a LeftSemi join (no
    row multiplication, no cartesian)."""
    plan = _plan(spark, "q23_exists_slow_orders")
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan, plan


@_needs_data
def test_q24_windows_share_one_shuffle(spark):
    """All four window expressions partition by o_custkey with the same
    ordering, so the plan needs exactly ONE exchange."""
    plan = _plan(spark, "q24_window_analytics")
    assert _count_shuffles(plan) == 1, plan


@_needs_data
def test_e06_funnel_is_single_data_shuffle(spark):
    """The funnel fold is groupBy(user_id) + HOF aggregate: one data
    shuffle for the user grouping plus the tiny final stage-count agg;
    no joins at all in the Spark plan."""
    plan = _plan(spark, "e06_funnel_stages")
    assert "Join" not in plan, plan
    assert _count_shuffles(plan) <= 2, plan


@_needs_data
def test_q27_topk_is_take_ordered_not_global_sort(spark):
    """ORDER BY + LIMIT must plan as TakeOrderedAndProject (per-task
    heaps merged on the driver), never a global Sort + CollectLimit."""
    plan = _plan(spark, "q27_topk_open_orders")
    assert "TakeOrderedAndProject" in plan, plan


@_needs_data
def test_q25_percentiles_single_shuffle(spark):
    """Exact grouped percentiles: one aggregation exchange on the
    group key, nothing else."""
    plan = _plan(spark, "q25_group_percentiles")
    assert _count_shuffles(plan) == 1, plan


@_needs_data
def test_q26_decorrelated_subquery_has_no_join(spark):
    """The correlated scalar subquery must decorrelate to a window
    over the SAME scan: no join, one exchange, one parquet scan."""
    plan = _plan(spark, "q26_above_avg_orders")
    assert "Join" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan


@_needs_data
def test_e07_cohort_windows_before_distinct(spark):
    """Cohort retention: no joins in the Spark plan — the firsts come
    from a window, not a groupBy+join-back."""
    plan = _plan(spark, "e07_cohort_retention")
    assert "Join" not in plan, plan


@_needs_data
def test_s18_bloom_prefilter_is_scan_stage(spark):
    """The bloom membership test must run BEFORE any exchange: the
    only join is the exact-confirm broadcast over survivors."""
    plan = _plan(spark, "s18_bloom_decontam")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


@_needs_data
def test_q28_one_shuffle_family_no_second_fact_scan(spark):
    """EXISTS + NOT-EXISTS as one aggregation pass: the per-supplier
    table is checkpointed, so both consumers (per-order rollup and the
    final join) read ONE materialized RDD — the plan must show the
    shared ExistingRDD and zero duplicated fact scans (without the
    checkpoint Spark re-executes the join+agg subtree per consumer:
    4 parquet scans)."""
    plan = _plan(spark, "q28_sole_late_supplier")
    assert plan.count("Scan parquet") == 0, plan
    assert "ExistingRDD" in plan, plan


@_needs_data
def test_e08_range_frame_single_shuffle(spark):
    plan = _plan(spark, "e08_trailing_hour_stats")
    assert _count_shuffles(plan) == 1, plan


@_needs_data
def test_e09_locf_single_shuffle_no_join(spark):
    plan = _plan(spark, "e09_locf_gap_fill")
    assert "Join" not in plan, plan
    assert _count_shuffles(plan) == 1, plan


@_needs_data
def test_m09_uses_cogroup(spark):
    plan = _plan(spark, "m09_cogroup_asof")
    assert "FlatMapCoGroupsInPandas" in plan, plan


@_needs_data
def test_q30_dim_edges_broadcast(spark):
    """The referenced key sets of the dimension edges broadcast."""
    plan = _plan(spark, "q30_fk_orphan_audit")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


@_needs_data
def test_q31_percentiles_avoid_in_memory_value_buffer(spark):
    """q31 is the scale-safe twin of q25: no exact `percentile()`
    aggregate (which buffers whole groups in executor memory without
    spilling) may appear — the plan must be rank-selection: a Window
    (spillable sort-based buffer) plus a broadcast of the tiny count
    table."""
    plan = _plan(spark, "q31_scalable_percentiles")
    assert "percentile" not in plan.lower(), plan
    assert "Window" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


@_needs_data
def test_m12_mask_membership_is_broadcast(spark):
    """F4's mask-file existence probe is a broadcast membership join —
    the 60k-row file table must not shuffle against a <=300-row mask
    dim."""
    plan = _plan(spark, "m12_canstack_checklist")
    assert "BroadcastHashJoin" in plan, plan
    assert _count_shuffles(plan) == 0, plan


@_needs_data
def test_m10_mask_diameter_is_scan_stage_only(spark):
    """P11 is pure per-row arithmetic: zero shuffles, single scan."""
    plan = _plan(spark, "m10_mask_diameter")
    assert _count_shuffles(plan) == 0, plan


@_needs_data
def test_t14_freq_join_is_broadcast(spark):
    """The unigram frequency table re-joins the token stream as a
    broadcast (t05's df-table shape) — shuffling the token stream
    against it would move the corpus twice."""
    plan = _plan(spark, "t14_unigram_surprisal")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


@_needs_data
def test_s20_distance_is_broadcast_array_fold(spark):
    """Centroid arrays broadcast to the vector scan; the only shuffles
    are the centroid build and the per-label top-k window — the
    distance computation itself must not explode (vec, dim) rows."""
    plan = _plan(spark, "s20_centroid_outliers")
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" in plan, plan


@_needs_data
def test_q32_grouping_sets_single_expand(spark):
    """GROUPING SETS must be one Expand + one aggregate shuffle over a
    single scan — not a UNION of three groupBys."""
    plan = _plan(spark, "q32_grouping_sets")
    assert plan.count("Expand") >= 1, plan
    assert _count_shuffles(plan) == 1, plan
    assert plan.count("Scan parquet") == 1, plan


def test_partition_pruning_reaches_scan(spark, tmp_path):
    """Reading a hive-partitioned table with an equality predicate on
    the partition column must prune at planning time: the predicate
    shows up as a PartitionFilter on the scan (zero data files of other
    partitions touched), not a post-scan Filter."""
    p = str(tmp_path / "events_part")
    df = spark.range(1000).selectExpr("id", "id % 10 AS day")
    df.write.mode("overwrite").partitionBy("day").parquet(p)
    q = spark.read.parquet(p).filter("day = 3").select("id")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[.*day.*3", plan), plan
    assert q.count() == 100


def test_dynamic_partition_pruning_on_dim_filter(spark, tmp_path):
    """Star-join over a partitioned fact: a filter on the dimension side
    must prune fact partitions at RUNTIME (dynamicpruning expression on
    the scan) — the mechanism that keeps dimension-filtered scans from
    reading a 100 TB fact table."""
    fact_path = str(tmp_path / "fact")
    spark.range(2000).selectExpr("id", "id % 20 AS dim_id") \
        .write.mode("overwrite").partitionBy("dim_id").parquet(fact_path)
    dim = spark.range(20).selectExpr("id AS dim_id",
                                     "CASE WHEN id < 2 THEN 'keep' "
                                     "ELSE 'drop' END AS tag")
    # Broadcast stays enabled: the reuse-broadcast DPP path (the
    # default, and the one a dimension-filtered star join actually
    # takes) is what this asserts.
    fact = spark.read.parquet(fact_path)
    j = fact.join(dim.filter("tag = 'keep'"), "dim_id")
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    assert j.count() == 200


@_needs_data
def test_s22_incremental_probe_is_equi_join(spark):
    """The batch-vs-corpus probe must be an equi-join on the band key —
    never a nested loop — and the asymmetric split must not re-plan as
    a self-cartesian."""
    plan = _plan(spark, "s22_incremental_neardup")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan \
        or "ShuffledHashJoin" in plan, plan


@_needs_data
def test_e10_register_agg_partial_aggregates(spark):
    """The hourly HLL register groupBy must plan partial+final (map-side
    max combine) — the O(windows x 64) state property."""
    plan = _plan(spark, "e10_hourly_distinct_hll")
    assert "partial_max" in plan, plan
    assert "CartesianProduct" not in plan, plan


def _subtree(plan: str, node: str) -> str:
    """The tree-string lines of the first ``node`` and its children."""
    lines = plan.splitlines()
    i = next(k for k, ln in enumerate(lines) if node in ln)
    depth = lines[i].index(node)
    sub = [lines[i]]
    for ln in lines[i + 1:]:
        if re.search(r"[A-Za-z]", ln).start() <= depth:
            break
        sub.append(ln)
    return "\n".join(sub)


def _assert_q34_bucketed_smj(plan: str) -> None:
    assert "SortMergeJoin" in plan, plan
    smj = _subtree(plan, "SortMergeJoin")
    assert smj.count("Bucketed: true") == 2, plan
    assert "Exchange" not in smj, plan


@_needs_data
def test_q34_bucketed_join_zero_exchanges(spark):
    """With broadcast disabled, the bucketed orders/customer join must
    sort-merge with ZERO exchanges on the bucketed sides (the nation
    dim stays an explicit broadcast)."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        _assert_q34_bucketed_smj(_plan(spark, "q34_bucketed_join_roundtrip"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


@_needs_data
def test_q34_merge_hint_leaves_session_threshold(spark):
    """Under the session's own (enabled) broadcast threshold, q34's merge
    hint keeps the bucketed join a SortMergeJoin that no Exchange feeds,
    and the threshold reads the same afterwards."""
    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    assert before.strip() not in ("-1", "0")
    plan = _plan(spark, "q34_bucketed_join_roundtrip")
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == before
    _assert_q34_bucketed_smj(plan)


@_needs_data
def test_c01_curation_two_shuffles(spark):
    """The end-to-end curation plan is the dedup window + the census
    aggregation — two data shuffles, quality/split expressions in the
    scan stage."""
    plan = _plan(spark, "c01_curation_e2e")
    assert _count_shuffles(plan) == 2, plan
    assert "CartesianProduct" not in plan, plan


@_needs_data
def test_e12_single_data_shuffle_before_matrix(spark):
    """The per-user lag and the (prev, next) groupBy: the lag shuffles
    on user_id, the matrix groupBy shuffles the lag output, and the
    normalizing window re-uses the matrix partitioning — more than 3
    exchanges means per-event data started moving twice."""
    plan = _plan(spark, "e12_event_transitions")
    assert _count_shuffles(plan) <= 3, plan


@_needs_data
def test_e12_no_global_window(spark):
    """The normalizing window must be partitioned (by prev_type) —
    an empty partition spec would single-task the matrix."""
    plan = _plan(spark, "e12_event_transitions")
    for m in re.finditer(r"Window .*?windowspecdefinition\(([^)]*)\)", plan):
        assert m.group(1).strip(), plan


@_needs_data
def test_t15_lm_tables_are_broadcast(spark):
    """Both LM tables (bigram counts, left-unigram counts) join the
    gram stream as broadcasts while they fit."""
    plan = _plan(spark, "t15_bigram_surprisal")
    assert plan.count("BroadcastHashJoin") >= 2, plan


@_needs_data
def test_s24_no_cartesian_or_sort_merge_self_join(spark):
    """Containment pairs come from blocked_pairs (array pair-gen),
    never a self-join of the shingle stream."""
    plan = _plan(spark, "s24_containment_neardup")
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


@_needs_data
def test_e11_no_global_window(spark):
    """bucketed_exact_quantiles' rank window partitions by bucket; a
    windowspecdefinition with an empty partition clause would mean the
    global-sort shape regressed."""
    plan = _plan(spark, "e11_conversion_latency")
    for m in re.finditer(r"Window .*?windowspecdefinition\(([^)]*)\)", plan):
        spec = m.group(1)
        assert "__b" in spec, plan


@_needs_data
def test_t17_classifier_inference_is_scan_stage(spark):
    """Classifier inference is a pure per-row fold: ZERO exchanges —
    any shuffle means the expression formulation regressed to a join
    or aggregation."""
    plan = _plan(spark, "t17_classifier_filter")
    assert _count_shuffles(plan) == 0, plan


@_needs_data
def test_m16_single_shuffle(spark):
    plan = _plan(spark, "m16_daily_ops_dashboard")
    assert _count_shuffles(plan) <= 2, plan  # partial agg + final


@_needs_data
def test_c02_canonical_join_is_not_hint_pinned(spark):
    """The canonical-id join keys on the md5 hash: both sides are
    corpus-sized at scale, so the join strategy must stay STATS-driven
    (Catalyst auto-broadcasts at this tiny SF and degrades to a
    shuffle join when the hash table outgrows the threshold). A pinned
    broadcast hint would OOM at scale — the hash table IS the corpus."""
    opt = _optimized(spark, "c02_dedup_funnel_report")
    assert "strategy=broadcast" not in opt, opt


@_needs_data
def test_e13_top10_is_take_ordered_no_window(spark):
    """The skew report's top-10 share must come from a TakeOrdered
    top-k (per-partition heaps), never a global-order window — a
    single-partition WindowExec would bottleneck at open key
    cardinality."""
    plan = _plan(spark, "e13_skew_report")
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan


@_needs_data
def test_s36_codebook_join_is_broadcast(spark):
    """PQ assignment must broadcast the (|labels| x 4)-row codebook
    against the subvector stream — a shuffle join here would move the
    corpus for a kilobyte-class build side."""
    plan = _plan(spark, "s36_product_quantization")
    assert "BroadcastHashJoin" in plan, plan


@_needs_data
def test_t26_no_cartesian_and_bounded_shuffles(spark):
    """Substring removal: chunk-hash groupBy, probe join, per-doc
    islands window, reconstruction join — bounded shuffle count, no
    pair blowup anywhere."""
    plan = _plan(spark, "t26_substring_removal")
    assert "CartesianProduct" not in plan, plan
    assert _count_shuffles(plan) <= 8, plan


@_needs_data
def test_q42_orc_scan_prunes_partition(spark):
    """The ORC read-back must push the status predicate into partition
    pruning (one directory scanned), not filter post-scan."""
    plan = _plan(spark, "q42_orc_partitioned_roundtrip")
    assert re.search(r"PartitionFilters: \[.*o_orderstatus.*\]", plan), plan


@_needs_data
def test_t36_small_sides_broadcast_no_smj(spark):
    """BM25's df table, query-pair table, and 1-row corpus stats must
    all broadcast into the matched-token stream — a SortMergeJoin here
    would shuffle the token stream three times."""
    plan = _plan(spark, "t36_bm25_topk")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


@_needs_data
def test_c05_compaction_is_single_shuffle(spark):
    """The manifest pack is ONE exchange: the per-source window
    hash-partitions on source, and the (source, bin) rollup reuses
    that partitioning (subset clustering) — no second shuffle."""
    plan = _plan(spark, "c05_compaction_plan")
    assert _count_shuffles(plan) == 1, plan


@_needs_data
def test_q48_layout_audit_has_no_joins(spark):
    """Both layouts come from one scan (exploded tag), the query grid
    explodes from a literal array — the whole audit must plan with NO
    join operator of any kind."""
    plan = _plan(spark, "q48_zorder_skipping")
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
               "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert op not in plan, (op, plan)


@_needs_data
def test_s41_final_pass_is_joinless_two_shuffles(spark):
    """The returned (3rd) power-iteration pass: the row-local dot fold
    adds no shuffle, so the plan is exactly the d-key aggregation plus
    the bounded d-row normalization window — two exchanges, no joins."""
    plan = _plan(spark, "s41_power_iteration_pca")
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
               "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert op not in plan, (op, plan)
    assert _count_shuffles(plan) <= 3, plan


@_needs_data
def test_e26_deletion_is_broadcast_plus_one_shuffle(spark):
    """Tombstones broadcast into the fact scan; the delta-maintained
    rollup is the only data shuffle. A shuffled tombstone join or a
    second aggregation pass breaks the one-scan delete-audit design."""
    plan = _plan(spark, "e26_deletion_propagation")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # The FULL fact contributes exactly one exchange (the rollup);
    # the remaining exchanges build the tombstone list and the
    # deleted-subset distinct-user audit (~1% tombstone mass).
    assert _count_shuffles(plan) <= 5, plan


@_needs_data
def test_t37_pair_emission_is_scan_stage(spark):
    """t37's co-occurrence pairs come from a zip_with over the filtered
    token array — no join may appear before the (pair, weight)
    aggregation, and the full plan stays equi-join-only."""
    plan = _plan(spark, "t37_textrank_keywords")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@_needs_data
def test_vocab_topk_is_distributed_take_ordered(spark):
    """t12/t27/t37 rank a vocabulary-sized aggregate: the top-k must
    come from TakeOrderedAndProject (per-partition top-k, merged at
    the driver), and any row_number window may only run AFTER that
    limit — a global window over the raw vocab table would sort the
    whole thing through one partition (the WindowExec single-partition
    warning). Regression guard for the orderBy+limit rewrite."""
    for name in ("t12_vocab_coverage", "t27_bpe_merge_stats",
                 "t37_textrank_keywords"):
        plan = _plan(spark, name)
        assert "TakeOrderedAndProject" in plan, (name, plan)
        # EVERY global window must run on the <= top-k rows downstream
        # of a take-ordered node: in the bottom-up plan string the LAST
        # Window occurrence must still appear ABOVE (smaller offset
        # than) the first TakeOrderedAndProject — a compliant window
        # above the limit plus a second global window below it would
        # fool a first-occurrence check (ADVICE r07).
        w_at = plan.rfind("Window ")
        t_at = plan.find("TakeOrderedAndProject")
        if w_at != -1:
            assert w_at < t_at, (name, plan)


def test_ivf_hot_cell_guard_in_plan_and_wired(spark):
    """Two-layer regression guard for the hot-cell budget:

    (a) plan layer — assign_cells' optimized plan carries the
    raise_error inside the broadcast build side's JOIN KEY (the
    prune-proof placement: a projected guard column was silently
    dropped by a bare count() — caught by the behavior test — so the
    key placement is what must survive refactors);

    (b) wiring layer — every IVF consumer still routes its assignment
    through assign_cells/cell_ranks WITHOUT opting out (consumers
    eagerly checkpoint the guarded frame, which truncates their final
    plans to a LogicalRDD — the guard executes at checkpoint
    materialization, so the plan string can't witness it there)."""
    import inspect

    from pyspark.sql import functions as F

    from mousedatapipeline_spark.operators import similarity as S
    vecs = spark.range(4).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("v"))
    cent = spark.createDataFrame([(0, [1.0, 0.0])],
                                 "label long, c array<double>")
    plan = S.assign_cells(vecs, cent)._jdf.queryExecution() \
        .optimizedPlan().toString()
    assert "raise_error" in plan
    assert "max_cell=" in plan
    rplan = S.cell_ranks(vecs, cent, 1)._jdf.queryExecution() \
        .optimizedPlan().toString()
    assert "raise_error" in rplan

    from mousedatapipeline_spark.plans import similarity_queries as sq
    for fn in (sq.s08_ann_ivf, sq.s35_hard_negatives,
               sq.s37_ivf_probe_sweep, sq.s38_knn_graph_stats,
               sq.s39_ivf_pq_index_build):
        src = inspect.getsource(fn)
        assert ("assign_cells(" in src or "cell_ranks(" in src), fn
        assert "max_cell=None" not in src, fn


def test_multimodal_neardup_guard_wiring():
    """The mm near-dup family must route through the hardened helpers
    (exact-dedup-first + hot-bucket budgets + eager-checkpointed
    kernel output) WITHOUT opting out — the media analogue of the IVF
    wiring test above. Plans can't witness the guard (the eager
    checkpoint truncates them to a LogicalRDD; the raise executes at
    checkpoint materialization), so the behavior tests in
    test_kernels_multimodal.py carry the raise contract and this test
    pins the routing."""
    import inspect

    from mousedatapipeline_spark.operators import multimodal as M
    from mousedatapipeline_spark.plans import image_queries as iq
    for fn, helper in (
            (iq.mm03_phash_neardup, "phash_neardup_pairs("),
            (iq.mm06_media_dedup_clusters, "phash_neardup_edges("),
            (iq.mm07_audio_neardup, "phash_neardup_pairs("),
            (iq.mm09_video_neardup, "video_neardup_pairs(")):
        src = inspect.getsource(fn)
        assert helper in src, fn
        assert "max_bucket=None" not in src, fn
        assert "max_group=None" not in src, fn
    assert "hot_cell_guard" in inspect.getsource(M._distinct_hash_pairs)
    for f in (M.phash_neardup_pairs, M.phash_neardup_edges,
              M.video_neardup_pairs):
        src = inspect.getsource(f)
        assert "localCheckpoint(eager=True)" in src, f
        assert ("hot_cell_guard" in src
                or "_distinct_hash_pairs" in src), f


def test_symmetrize_edges_is_single_pass(spark):
    """Both directions of an undirected edge list must come from ONE
    pass over the pair subtree — a Union above an expensive pair
    pipeline evaluates it once per branch inside the materializing
    job (measured 554 s vs 293 s for s40 at 30x). The helper's plan
    must be a Generate (explode), never a Union, and its output must
    equal the union form row-for-row including carried columns."""
    from pyspark.sql import functions as F

    from mousedatapipeline_spark.operators.graph import symmetrize_edges

    pairs = spark.range(5).select(
        F.col("id").alias("d1"), (F.col("id") + 100).alias("d2"),
        (F.col("id") * 10).alias("w"))
    sym = symmetrize_edges(pairs, "d1", "d2", carry=("w",))
    plan = sym._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in plan, plan
    assert "Generate explode" in plan, plan
    expect = pairs.select(F.col("d1").alias("src"),
                          F.col("d2").alias("dst"), "w").unionByName(
        pairs.select(F.col("d2").alias("src"),
                     F.col("d1").alias("dst"), "w"))
    assert sorted(map(tuple, sym.collect())) == \
        sorted(map(tuple, expect.collect()))


def test_iterative_edge_builders_use_symmetrize():
    """The eager checkpoint in s40/s43/t37 hides the edge-construction
    plan from explain (it becomes a LogicalRDD), so the no-union
    property is pinned at the source level: each builder must go
    through symmetrize_edges and must not union the pair frame."""
    import inspect

    from mousedatapipeline_spark.plans import similarity_queries as SQ
    from mousedatapipeline_spark.plans import text_queries as TQ

    for fn in (SQ.s40_neardup_pagerank, SQ.s43_label_propagation,
               TQ.t37_textrank_keywords):
        src = inspect.getsource(fn)
        assert "symmetrize_edges" in src, fn.__name__
        assert "unionByName" not in src, fn.__name__


@_needs_data
def test_t38_url_dedup_is_scan_plus_two_exchanges(spark):
    """The URL canonicalization chain must stay a scan-stage
    expression: one 1-column parquet scan (doc_id only — the minted
    URL never touches text), no join/window/UDF, and exactly the two
    unavoidable exchanges ((host, canon) groupBy + |hosts| rollup;
    the final display orderBy may add a range exchange)."""
    plan = _plan(spark, "t38_url_canonical_dedup")
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
               "BroadcastNestedLoopJoin", "CartesianProduct", "Window",
               "ArrowEvalPython", "BatchEvalPython", "FlatMapsInPandas"):
        assert op not in plan, (op, plan)
    assert _count_shuffles(plan) <= 3, plan
    assert re.search(r"ReadSchema: struct<doc_id:bigint>", plan), plan
