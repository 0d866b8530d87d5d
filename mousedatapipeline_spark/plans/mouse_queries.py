"""MOUSE-domain query catalog: the reference pipeline's semantics
(flux/transmission physics, TCF propagation, background correction,
stacking) exercised end-to-end on the driver's star schema, with DuckDB
oracles.

The star schema maps onto the MOUSE data model (FIXTURES.md §4):
lineitem rows play repetitions, (l_orderkey, l_linenumber, l_suppkey%3)
play (batch, repetition, configuration), and scalar physics inputs are
derived deterministically from lineitem columns. The *semantics* under
test are the reference's:

  P5  transmission ratios        calc_beam_flux_and_transmissions.py:216-218
  A4  batch-max propagation      transmission_correction_factor_propagator.py:54-81
  P13 TCF applied only when >1   apply_transmission_correction_factor.py:59-62
  P8  thickness w/ -1 sentinel   thickness_from_absorption.py:36-52
  P10 thickness selection        thickness_from_absorption.py:167-202
  P9/J3 background correction    thickness_from_absorption.py:90-108
  A1/A2 stacking + statistics    post_translation_operation_hdf5_stacker.py:120-189
  F1  completeness check         checkers.py:19-46
  S12 metrics table              transmission_thickness_flux_table.py:59-89
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mousedatapipeline_spark import scratch
from mousedatapipeline_spark.functions import physics
from mousedatapipeline_spark.functions.rounding import (
    stable_round,
    stable_round_sql,
)
from mousedatapipeline_spark.operators import joins, windows
from mousedatapipeline_spark.operators.aggregates import (
    census, dsum, dsum_sql, dvar, dvar_parts, dvar_parts_sql, dvar_sql,
    stack_stats,
)
from mousedatapipeline_spark.operators.filters import completeness_check
from mousedatapipeline_spark.plans.catalog import register
from mousedatapipeline_spark.tables import load

# Deterministic star-schema -> measurement mapping, kept identical in the
# SQL oracles below (the "_measurements" CTE).
_MEASUREMENT_SQL_CTE = """
      SELECT l_orderkey AS batch,
             l_linenumber AS repetition,
             CAST(l_orderkey % 3 AS INT) AS configuration,
             strftime(l_shipdate, '%Y%m%d') AS ymd,
             l_extendedprice / 100.0 AS direct_flux,
             1.0 - l_discount AS transmission,
             0.95 + l_tax * 2.0 AS tcf,
             l_discount * 5.0 AS absorption,
             2.0 + l_tax * 10.0 AS mu,
             CASE WHEN l_quantity >= 40.0 THEN l_quantity / 100.0
                  ELSE -1.0 END AS samplethickness,
             l_discount AS scattering_prob,
             l_quantity / 50.0 AS wavelength_nm
      FROM lineitem
"""


def measurements(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The measurements fact: one row per repetition (README.md:27-40
    shape), derived deterministically from lineitem."""
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").alias("batch"),
        F.col("l_linenumber").alias("repetition"),
        (F.col("l_orderkey") % 3).cast("int").alias("configuration"),
        F.date_format("l_shipdate", "yyyyMMdd").alias("ymd"),
        (F.col("l_extendedprice") / 100.0).alias("direct_flux"),
        (F.lit(1.0) - F.col("l_discount")).alias("transmission"),
        (F.lit(0.95) + F.col("l_tax") * 2.0).alias("tcf"),
        (F.col("l_discount") * 5.0).alias("absorption"),
        (F.lit(2.0) + F.col("l_tax") * 10.0).alias("mu"),
        F.when(F.col("l_quantity") >= 40.0, F.col("l_quantity") / 100.0)
        .otherwise(F.lit(-1.0)).alias("samplethickness"),
        F.col("l_discount").alias("scattering_prob"),
        (F.col("l_quantity") / 50.0).alias("wavelength_nm"),
    )


# --------------------------------------------------------------------------
# Flagship: the minimum end-to-end slice of SURVEY §7.2.2 — expressions ->
# window propagation -> gated correction -> grouped stack statistics.
# ONE shuffle total: the window partitions on batch, and Spark accepts
# that partitioning as satisfying the (batch, configuration) clustering
# of the downstream groupBy (asserted in tests/test_plan_shapes.py).
# --------------------------------------------------------------------------
@register(
    "m01_stacked_summary",
    oracle=f"""
    WITH m AS ({_MEASUREMENT_SQL_CTE}),
    prop AS (
      SELECT *,
             MAX(tcf) OVER (PARTITION BY batch) AS largest_tcf,
             MAX(scattering_prob) OVER (PARTITION BY batch) AS max_scatter_prob
      FROM m
    ), corr AS (
      SELECT *,
             CASE WHEN largest_tcf > 1.0 THEN transmission * largest_tcf
                  ELSE transmission END AS transmission_corrected
      FROM prop
    ), s AS (
      SELECT batch, configuration,
             {dsum_sql("transmission_corrected")} AS su,
             {", ".join(dvar_parts_sql("transmission_corrected", "sv"))},
             CAST(COUNT(*) AS BIGINT) AS t_count,
             MAX(transmission_corrected) AS t_max,
             MIN(transmission_corrected) AS t_min,
             {dsum_sql("direct_flux")} AS flux_sum,
             MAX(max_scatter_prob) AS max_scatter_prob
      FROM corr GROUP BY batch, configuration
    )
    SELECT batch, configuration, t_count, t_max, t_min, max_scatter_prob,
           {stable_round_sql('su / CAST(t_count AS DOUBLE)')} AS t_mean,
           CASE WHEN t_count > 1 THEN {stable_round_sql(
                   f"SQRT({dvar_sql('sv', 't_count')})")}
                END AS t_std,
           CASE WHEN t_count > 1 THEN {stable_round_sql(
                   f"SQRT({dvar_sql('sv', 't_count')})"
                   " / SQRT(CAST(t_count AS DOUBLE))")}
                END AS t_sem,
           {stable_round_sql('flux_sum')} AS flux_sum
    FROM s
    """,
    doc="Flagship A1/A2+A4+P13 slice: propagate batch-max TCF, apply when >1, "
        "stack per (batch, configuration) with mean/std(ddof=1)/sem stats.",
)
def m01_stacked_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = measurements(spark, sf_dir)
    prop = windows.propagate_group_max(
        m, ["batch"],
        {"tcf": "largest_tcf", "scattering_prob": "max_scatter_prob"})
    corr = prop.withColumn(
        "transmission_corrected",
        physics.apply_tcf(F.col("transmission"), F.col("largest_tcf")))
    # One shuffle: the flux sum and propagated max ride on the same
    # groupBy as the stack statistics (no second aggregation, no join).
    out = stack_stats(
        corr, ["batch", "configuration"], "transmission_corrected",
        prefix="t_",
        extra_aggs={
            "flux_sum": stable_round(dsum("direct_flux")),
            "max_scatter_prob": F.max("max_scatter_prob"),
        })
    return out.select(
        "batch", "configuration", "t_count", "t_max", "t_min",
        "max_scatter_prob",
        stable_round(F.col("t_mean")).alias("t_mean"),
        stable_round(F.col("t_std")).alias("t_std"),
        stable_round(F.col("t_sem")).alias("t_sem"),
        "flux_sum",
    )


# --------------------------------------------------------------------------
# J3/P9/P8/P10: background self-join with same-batch guard, then the full
# thickness chain on the corrected absorption.
# --------------------------------------------------------------------------
@register(
    "m02_background_thickness",
    oracle=f"""
    WITH m AS ({_MEASUREMENT_SQL_CTE}),
    bg AS (
      SELECT batch AS bg_batch,
             {dsum_sql("transmission")}
               / CAST(COUNT(*) AS DOUBLE) AS transmission_bg
      FROM m GROUP BY batch
    ), j AS (
      SELECT m.*,
             CAST(FLOOR(m.batch / 10.0) AS BIGINT) * 10 AS bg_key,
             b.transmission_bg,
             (CAST(FLOOR(m.batch / 10.0) AS BIGINT) * 10 = m.batch) AS same_as_bg
      FROM m LEFT JOIN bg b ON CAST(FLOOR(m.batch / 10.0) AS BIGINT) * 10 = b.bg_batch
    ), a AS (
      SELECT *,
             CASE WHEN transmission_bg IS NOT NULL AND transmission_bg <> 0.0
                       AND NOT same_as_bg
                  THEN 1.0 - transmission / transmission_bg
                  ELSE 1.0 - transmission END AS absorption_corrected
      FROM j
    )
    SELECT batch, repetition, configuration,
           CAST(same_as_bg AS INT) AS same_as_bg,
           {stable_round_sql('absorption_corrected')} AS absorption_corrected,
           {stable_round_sql('''CASE WHEN samplethickness >= 0.0 THEN samplethickness
                      WHEN mu > 0.0 AND ABS(absorption_corrected) > 0.0
                           AND ABS(absorption_corrected) <= 1.0
                      THEN -SIGN(absorption_corrected)
                           * LN(1.0 - ABS(absorption_corrected)) / mu
                      ELSE -1.0 END''')} AS thickness
    FROM a
    """,
    doc="J3/P9: background self-join keyed batch->batch//10*10 with same-batch "
        "guard (thickness_from_absorption.py:90-108), P8/P10 thickness chain.",
)
def m02_background_thickness(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = measurements(spark, sf_dir)
    # Per-batch mean transmission plays the stacked background value.
    bg = m.groupBy(F.col("batch").alias("bg_batch")).agg(
        (dsum("transmission") / F.count(F.lit(1)).cast("double"))
        .alias("transmission_bg"))
    withkey = m.withColumn(
        "bg_key", (F.col("batch").cast("bigint") / 10).cast("bigint") * 10)
    j = withkey.join(F.broadcast(bg),
                     withkey.bg_key == bg.bg_batch, "left")
    j = j.withColumn("same_as_bg", F.col("bg_key") == F.col("batch"))
    a = j.withColumn(
        "absorption_corrected",
        physics.background_corrected_absorption(
            F.col("transmission"), F.col("transmission_bg"),
            F.col("same_as_bg")))
    derived = physics.thickness_from_absorption(
        F.col("absorption_corrected"), F.col("mu"))
    thickness = physics.select_thickness(
        F.when(F.col("samplethickness") >= 0.0, F.col("samplethickness")),
        derived)
    return a.select(
        "batch", "repetition", "configuration",
        F.col("same_as_bg").cast("int").alias("same_as_bg"),
        stable_round(F.col("absorption_corrected"))
        .alias("absorption_corrected"),
        stable_round(thickness).alias("thickness"),
    )


# --------------------------------------------------------------------------
# S12: the per-repetition metrics table (the reference's appended CSV).
# --------------------------------------------------------------------------
@register(
    "m03_flux_thickness_table",
    oracle=f"""
    WITH m AS ({_MEASUREMENT_SQL_CTE})
    SELECT ymd, batch, repetition, configuration,
           {stable_round_sql('direct_flux')} AS direct_flux,
           {stable_round_sql('direct_flux * transmission')} AS sample_flux,
           {stable_round_sql('transmission')} AS transmission,
           {stable_round_sql('''CASE WHEN wavelength_nm <= 0.0 THEN 0.0
                      ELSE 1.2398419843320026 / wavelength_nm END''')} AS energy_kev,
           {stable_round_sql('samplethickness')} AS samplethickness,
           {stable_round_sql('scattering_prob')} AS scattering_prob
    FROM m
    """,
    doc="S12: per-repetition flux/thickness/transmission metrics row "
        "(transmission_thickness_flux_table.py:59-89); CSV sink tested in tests/.",
)
def m03_flux_thickness_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = measurements(spark, sf_dir)
    return m.select(
        "ymd", "batch", "repetition", "configuration",
        stable_round(F.col("direct_flux")).alias("direct_flux"),
        stable_round(F.col("direct_flux") * F.col("transmission"))
        .alias("sample_flux"),
        stable_round(F.col("transmission")).alias("transmission"),
        stable_round(physics.energy_kev(F.col("wavelength_nm")))
        .alias("energy_kev"),
        stable_round(F.col("samplethickness")).alias("samplethickness"),
        stable_round(F.col("scattering_prob")).alias("scattering_prob"),
    )


# --------------------------------------------------------------------------
# F1: completeness check with missing-pattern list.
# --------------------------------------------------------------------------
@register(
    "m04_completeness",
    oracle="""
    WITH c AS (
      SELECT l_orderkey AS batch,
             CAST(COUNT(*) AS BIGINT) AS n_lines,
             CAST(COUNT(CASE WHEN l_returnflag = 'N' THEN 1 END) AS BIGINT) AS n_normal
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT batch, n_lines, n_normal,
           concat_ws(',',
             CASE WHEN n_lines <> 4 THEN 'n_lines!=4' END,
             CASE WHEN n_normal <> 2 THEN 'n_normal!=2' END) AS missing,
           CAST(n_lines = 4 AND n_normal = 2 AS INT) AS is_complete
    FROM c
    """,
    doc="F1: processing_possible census + missing-pattern list "
        "(checkers.py:19-46).",
)
def m04_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    c = census(li.withColumnRenamed("l_orderkey", "batch"), ["batch"], {
        "n_lines": F.lit(True),
        "n_normal": F.col("l_returnflag") == "N",
    })
    out = completeness_check(c, {"n_lines": 4, "n_normal": 2})
    return out.select(
        "batch", "n_lines", "n_normal",
        F.array_join("missing", ",").alias("missing"),
        F.col("is_complete").cast("int").alias("is_complete"),
    )


def pipeline_inputs(spark: SparkSession, sf_dir: str):
    """Measurements (with background keys) + derived logbook — the
    pipeline's two inputs, shared by m05 and the CLI (__main__.py)."""
    m = measurements(spark, sf_dir).withColumns({
        "bg_ymd": F.col("ymd"),
        "bg_batch": (F.col("batch").cast("bigint") / 10).cast("bigint") * 10,
    })
    logbook = m.select("ymd", "batch").distinct().withColumn(
        "sample_name", F.concat_ws("_", F.lit("S"), F.col("batch")))
    return m, logbook


# --------------------------------------------------------------------------
# End-to-end pipeline: the watcher's full step program
# (pipeline.full_program). No window. The per-(ymd, batch) aggregate
# behind A4 and J3 is materialized once when the program is built; while
# it fits the broadcast threshold the only other shuffle is the A1/A2
# stacking groupBy, and no measurement row crosses a shuffle
# (tests/test_plan_shapes.py).
# --------------------------------------------------------------------------
@register(
    "m05_pipeline_e2e",
    oracle=f"""
    WITH m0 AS ({_MEASUREMENT_SQL_CTE}),
    m AS (
      SELECT *, ymd AS bg_ymd,
             CAST(FLOOR(batch / 10.0) AS BIGINT) * 10 AS bg_batch
      FROM m0
    ),
    lb AS (
      SELECT DISTINCT ymd, batch,
             'S_' || CAST(batch AS VARCHAR) AS sample_name
      FROM m0
    ),
    j1 AS (
      SELECT m.*, lb.sample_name,
             CASE WHEN m.wavelength_nm <= 0.0 THEN 0.0
                  ELSE 1.2398419843320026 / m.wavelength_nm END AS energy_kev
      FROM m LEFT JOIN lb ON m.ymd = lb.ymd AND m.batch = lb.batch
    ),
    prop AS (
      SELECT *,
             MAX(tcf) OVER (PARTITION BY ymd, batch) AS largest_tcf,
             MAX(scattering_prob) OVER (PARTITION BY ymd, batch)
               AS max_scatter_prob
      FROM j1
    ),
    corr AS (
      SELECT *,
             CASE WHEN largest_tcf > 1.0 THEN transmission * largest_tcf
                  ELSE transmission END AS transmission_corrected
      FROM prop
    ),
    bg AS (
      SELECT ymd AS bg_ymd, batch AS bg_batch,
             transmission_corrected AS tc_bg
      FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY ymd, batch
              ORDER BY repetition, transmission_corrected) AS rn
            FROM corr)
      WHERE rn = 1
    ),
    jb AS (
      SELECT c.*, bg.tc_bg,
             (c.bg_ymd = c.ymd AND c.bg_batch = c.batch) AS same_bg
      FROM corr c LEFT JOIN bg
        ON c.bg_ymd = bg.bg_ymd AND c.bg_batch = bg.bg_batch
    ),
    a AS (
      SELECT *,
             CASE WHEN tc_bg IS NOT NULL AND tc_bg <> 0.0 AND NOT same_bg
                  THEN 1.0 - transmission_corrected / tc_bg
                  ELSE 1.0 - transmission_corrected END AS ac
      FROM jb
    ),
    th AS (
      SELECT *,
             CASE WHEN samplethickness >= 0.0 THEN samplethickness
                  WHEN mu > 0.0 AND ABS(ac) > 0.0 AND ABS(ac) <= 1.0
                  THEN -SIGN(ac) * LN(1.0 - ABS(ac)) / mu
                  ELSE -1.0 END AS thickness
      FROM a
    ),
    s AS (
      SELECT ymd, batch, configuration,
             {dsum_sql("transmission_corrected")} AS su,
             {", ".join(dvar_parts_sql("transmission_corrected", "sv"))},
             CAST(COUNT(*) AS BIGINT) AS t_count,
             MAX(transmission_corrected) AS t_max,
             MIN(transmission_corrected) AS t_min,
             {dsum_sql("direct_flux")}
               AS flux_sum,
             {dsum_sql("thickness")}
               AS thick_sum,
             MAX(max_scatter_prob) AS max_scatter_prob
      FROM th GROUP BY 1, 2, 3
    )
    SELECT ymd, batch, configuration, t_count, t_max, t_min,
           max_scatter_prob,
           {stable_round_sql('su / CAST(t_count AS DOUBLE)')} AS t_mean,
           CASE WHEN t_count > 1 THEN {stable_round_sql(
                   f"SQRT({dvar_sql('sv', 't_count')})")}
                END AS t_std,
           {stable_round_sql('flux_sum')} AS flux_sum,
           {stable_round_sql('thick_sum / CAST(t_count AS DOUBLE)')}
             AS thickness_mean
    FROM s
    """,
    doc="End-to-end watcher program (watcher.py:78-89 ordering) as one "
        "lazy plan: logbook join -> energy -> flux/transmission -> TCF "
        "propagation -> gated correction -> background thickness -> "
        "stacked statistics. Exercises pipeline.full_program.",
)
def m05_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mousedatapipeline_spark import pipeline as P

    m, logbook = pipeline_inputs(spark, sf_dir)
    out = P.full_program(logbook)(m)
    return out.select(
        "ymd", "batch", "configuration", "t_count", "t_max", "t_min",
        "max_scatter_prob",
        stable_round(F.col("t_mean")).alias("t_mean"),
        stable_round(F.col("t_std")).alias("t_std"),
        stable_round(F.col("flux_sum")).alias("flux_sum"),
        stable_round(F.col("thickness_mean")).alias("thickness_mean"),
    )


# --------------------------------------------------------------------------
# J2: the as-of mask join — nearest mask dated <= the measurement, per
# configuration, via the union+carry-forward asof_join operator (single
# shuffle, no pair explosion).
# --------------------------------------------------------------------------
_MASKS_SQL = """
      SELECT p_partkey AS mask_id,
             CAST(p_partkey % 3 AS INT) AS configuration,
             strftime(DATE '1994-01-01'
                      + INTERVAL (p_partkey % 2500) DAY, '%Y%m%d') AS mask_ymd,
             'masks/' || CAST(p_partkey AS VARCHAR) || '.nxs' AS mask_path
      FROM part WHERE p_partkey < 300
"""


@register(
    "m06_asof_mask",
    oracle=f"""
    WITH m AS ({_MEASUREMENT_SQL_CTE}),
    masks AS ({_MASKS_SQL}),
    ranked AS (
      -- (batch, repetition) is NOT unique in the synthetic data; ymd
      -- joins the rank back to the measurement row that produced it.
      SELECT m.batch, m.repetition, m.configuration, m.ymd,
             masks.mask_id, masks.mask_path,
             ROW_NUMBER() OVER (
               PARTITION BY m.batch, m.repetition, m.ymd
               ORDER BY masks.mask_ymd DESC, masks.mask_id DESC,
                        masks.mask_path DESC) AS rn
      FROM (SELECT DISTINCT batch, repetition, configuration, ymd FROM m) m
      JOIN masks
        ON m.configuration = masks.configuration
       AND masks.mask_ymd <= m.ymd
    )
    SELECT m.batch, m.repetition, m.configuration, m.ymd,
           r.mask_id AS mask_id_asof, r.mask_path AS mask_path_asof
    FROM m LEFT JOIN ranked r
      ON m.batch = r.batch AND m.repetition = r.repetition
     AND m.ymd = r.ymd AND r.rn = 1
    """,
    doc="J2: as-of mask join (processstep_add_mask_file.py:34-81) — "
        "latest mask with mask_ymd <= measurement ymd per configuration; "
        "no eligible mask -> NULL columns (step skipped).",
)
def m06_asof_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = measurements(spark, sf_dir).select(
        "batch", "repetition", "configuration", "ymd")
    part = load(spark, sf_dir, "part").filter(F.col("p_partkey") < 300)
    masks = part.select(
        F.col("p_partkey").alias("mask_id"),
        (F.col("p_partkey") % 3).cast("int").alias("configuration"),
        F.date_format(
            F.date_add(F.to_date(F.lit("1994-01-01")),
                       (F.col("p_partkey") % 2500).cast("int")),
            "yyyyMMdd").alias("mask_ymd"),
        F.concat(F.lit("masks/"), F.col("p_partkey").cast("string"),
                 F.lit(".nxs")).alias("mask_path"),
    )
    out = joins.asof_join(
        m, masks, ["configuration"], "ymd", "mask_ymd",
        ["mask_id", "mask_path"])
    return out.select("batch", "repetition", "configuration", "ymd",
                      "mask_id_asof", "mask_path_asof")


# --------------------------------------------------------------------------
# J4: the optional dispersant-background join — a second null-safe left
# join; a NULL pointer (the reference's 'None' sentinel) means no join.
# --------------------------------------------------------------------------
@register(
    "m07_dispersant_background",
    oracle=f"""
    WITH m0 AS ({_MEASUREMENT_SQL_CTE}),
    m AS (
      SELECT *,
             CAST(FLOOR(batch / 10.0) AS BIGINT) * 10 AS bg_batch,
             CASE WHEN batch % 4 = 0
                  THEN CAST(FLOOR(batch / 20.0) AS BIGINT) * 20
                  END AS dbg_batch
      FROM m0
    ),
    bg AS (
      SELECT batch AS k, transmission AS t_first
      FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY batch
              ORDER BY repetition, transmission) AS rn
            FROM m0)
      WHERE rn = 1
    )
    SELECT m.batch, m.repetition, m.configuration,
           CAST(m.dbg_batch IS NULL AS INT) AS no_dispersant,
           {stable_round_sql('b1.t_first')} AS transmission_bg,
           {stable_round_sql('b2.t_first')} AS transmission_dbg
    FROM m
    LEFT JOIN bg b1 ON m.bg_batch = b1.k
    LEFT JOIN bg b2 ON m.dbg_batch = b2.k
    """,
    doc="J4: dispersant background as a second null-safe left join "
        "(processstep_metadata_update.py:134-150, add_background_files.py:74-80); "
        "real NULL replaces the reference's 'None' string sentinel.",
)
def m07_dispersant_background(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = measurements(spark, sf_dir).withColumns({
        "bg_batch": (F.col("batch").cast("bigint") / 10).cast("bigint") * 10,
        "dbg_batch": F.when(
            F.col("batch") % 4 == 0,
            (F.col("batch").cast("bigint") / 20).cast("bigint") * 20),
    })
    # (batch, repetition) is NOT unique in the synthetic data: break
    # min_by ties with the value itself or the pick is engine-dependent.
    bg = m.groupBy(F.col("batch").alias("k")).agg(
        F.min_by("transmission",
                 F.struct("repetition", "transmission")).alias("t_first"))
    b1 = bg.select(F.col("k").alias("bg_batch"),
                   F.col("t_first").alias("t_bg"))
    b2 = bg.select(F.col("k").alias("dbg_batch"),
                   F.col("t_first").alias("t_dbg"))
    out = (m.join(F.broadcast(b1), "bg_batch", "left")
           .join(F.broadcast(b2), "dbg_batch", "left"))
    return out.select(
        "batch", "repetition", "configuration",
        F.col("dbg_batch").isNull().cast("int").alias("no_dispersant"),
        stable_round(F.col("t_bg")).alias("transmission_bg"),
        stable_round(F.col("t_dbg")).alias("transmission_dbg"),
    )


# --------------------------------------------------------------------------
# P3: average->counts array rescale — multiply data arrays by the frame
# count, skip when it is zero; pure higher-order array expressions.
# --------------------------------------------------------------------------
@register(
    "m08_average_to_counts",
    oracle=f"""
    WITH arr AS (
      SELECT l_orderkey AS batch, l_linenumber AS repetition,
             CAST(l_orderkey % 3 AS INT) AS configuration,
             CAST(l_orderkey % 4 AS BIGINT) AS n_frames,
             [l_quantity, l_extendedprice / 100.0, l_discount] AS data_arr
      FROM lineitem
    )
    SELECT batch, repetition, configuration, n_frames,
           array_to_string(list_transform(data_arr, x ->
             printf('%.6f', {stable_round_sql(
                 'CASE WHEN n_frames = 0 THEN x ELSE x * n_frames END')})), ',')
             AS counts_seq,
           {stable_round_sql(
               "CASE WHEN n_frames = 0 THEN 1.0 ELSE 1.0 * n_frames END")}
             AS count_time_factor
    FROM arr
    """,
    doc="P3: average-to-counts rescale (processstep_average_to_counts.py:47-74) "
        "— data arrays x frame count, skipped when n_frames == 0; "
        "higher-order transform, no UDF.",
)
def m08_average_to_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mousedatapipeline_spark.tables import load_spread

    # load_spread (r10): the whole query is per-row expression work in
    # the scan stage (4x stable_round + 3x %.6f formatting per row),
    # and the local single-file lineitem scan packs into ~3 splits —
    # single-threading it. Spread is identity on a many-split cluster
    # scan (same conditional idiom as the s36-s39 embeddings fix).
    li = load_spread(spark, sf_dir, "lineitem")
    arr = li.select(
        F.col("l_orderkey").alias("batch"),
        F.col("l_linenumber").alias("repetition"),
        (F.col("l_orderkey") % 3).cast("int").alias("configuration"),
        (F.col("l_orderkey") % 4).cast("bigint").alias("n_frames"),
        F.array(F.col("l_quantity"),
                F.col("l_extendedprice") / 100.0,
                F.col("l_discount")).alias("data_arr"),
    )
    n = F.col("n_frames")
    rescaled = F.transform(
        F.col("data_arr"),
        lambda x: stable_round(F.when(n == 0, x).otherwise(x * n)))
    # The raw array<double> column broke the driver's pandas-based
    # canonicalizer (lists are unhashable) — emit a canonical CSV string
    # instead, fixed %.6f on both sides so engine double->string
    # formatting differences can't leak into the hash (q13 pattern).
    return arr.select(
        "batch", "repetition", "configuration", "n_frames",
        F.array_join(
            F.transform(rescaled, lambda v: F.format_string("%.6f", v)), ",")
        .alias("counts_seq"),
        stable_round(
            F.when(n == 0, F.lit(1.0)).otherwise(F.lit(1.0) * n))
        .alias("count_time_factor"),
    )


# --------------------------------------------------------------------------
# m09: the J2 as-of join AGAIN, this time as a cogrouped-pandas
# operator — measurements and masks cogrouped on configuration, pandas
# merge_asof inside each group. Exercises the applyInPandas cogroup
# API (Arrow-batched, one shuffle per side on the group key); the
# window-based asof_join (m06) stays the default — this variant is for
# kernels that genuinely need pandas semantics per group. Same oracle
# shape as m06 proves both implementations agree with the SQL.
# --------------------------------------------------------------------------
@register(
    "m09_cogroup_asof",
    oracle=f"""
    WITH m AS ({_MEASUREMENT_SQL_CTE}),
    masks AS ({_MASKS_SQL}),
    md AS (SELECT DISTINCT batch, repetition, configuration, ymd FROM m),
    ranked AS (
      SELECT md.batch, md.repetition, md.configuration, md.ymd,
             masks.mask_id,
             ROW_NUMBER() OVER (
               PARTITION BY md.batch, md.repetition, md.configuration,
                            md.ymd
               ORDER BY masks.mask_ymd DESC, masks.mask_id DESC) AS rn
      FROM md JOIN masks
        ON md.configuration = masks.configuration
       AND masks.mask_ymd <= md.ymd
    )
    SELECT md.batch, md.repetition, md.configuration, md.ymd,
           r.mask_id AS mask_id_asof
    FROM md LEFT JOIN ranked r
      ON md.batch = r.batch AND md.repetition = r.repetition
     AND md.configuration = r.configuration AND md.ymd = r.ymd
     AND r.rn = 1
    """,
    doc="J2 as-of join via cogrouped applyInPandas: measurements and "
        "masks cogroup on configuration and pandas merge_asof runs "
        "per group (backward direction, last-tie = highest mask_id, "
        "matching m06's window pick). Demonstrates the Arrow cogroup "
        "path for per-group kernels that need pandas semantics.",
)
def m09_cogroup_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    md = measurements(spark, sf_dir).select(
        "batch", "repetition", "configuration", "ymd").distinct()
    part = load(spark, sf_dir, "part").filter(F.col("p_partkey") < 300)
    masks = part.select(
        F.col("p_partkey").alias("mask_id"),
        (F.col("p_partkey") % 3).cast("int").alias("configuration"),
        F.date_format(
            F.date_add(F.to_date(F.lit("1994-01-01")),
                       (F.col("p_partkey") % 2500).cast("int")),
            "yyyyMMdd").alias("mask_ymd"))

    def asof(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        left = left.assign(_ymd_i=left["ymd"].astype("int64")) \
            .sort_values("_ymd_i", kind="mergesort")
        if right.empty:
            out = left.assign(mask_id_asof=pd.array(
                [None] * len(left), dtype="Int64"))
        else:
            right = right.assign(
                _mask_ymd_i=right["mask_ymd"].astype("int64")) \
                .sort_values(["_mask_ymd_i", "mask_id"], kind="mergesort")
            out = pd.merge_asof(
                left, right[["_mask_ymd_i", "mask_id"]],
                left_on="_ymd_i", right_on="_mask_ymd_i",
                direction="backward")
            out = out.rename(columns={"mask_id": "mask_id_asof"})
            out["mask_id_asof"] = out["mask_id_asof"].astype("Int64")
        return out[["batch", "repetition", "configuration", "ymd",
                    "mask_id_asof"]]

    out_schema = ("batch long, repetition int, configuration int, "
                  "ymd string, mask_id_asof long")
    return (md.groupby("configuration")
            .cogroup(masks.groupby("configuration"))
            .applyInPandas(lambda ldf, rdf: asof(ldf, rdf), out_schema))


# --------------------------------------------------------------------------
# P11: beam-mask diameter from the sample-detector distance. det_x /
# sample_x positions are stored in mm (the reference reads pint
# quantities and converts `.to('m')`); rows with a non-positive distance
# exercise the assert-finite-positive guard as degrade-to-NULL.
# --------------------------------------------------------------------------
@register(
    "m10_mask_diameter",
    oracle=f"""
    WITH pos AS (
      SELECT l_orderkey AS batch, l_linenumber AS repetition,
             CASE WHEN l_returnflag = 'R' THEN -l_quantity * 80.0
                  ELSE l_quantity * 80.0 END AS det_x_mm,
             l_tax * 1000.0 AS sample_x_mm
      FROM lineitem
    )
    SELECT batch, repetition,
           CAST(det_x_mm / 1000.0 - sample_x_mm / 1000.0 > 0.0
                AS INT) AS distance_valid,
           {stable_round_sql('''CASE
              WHEN det_x_mm / 1000.0 - sample_x_mm / 1000.0 > 0.0
              THEN 600.0 * (det_x_mm / 1000.0 - sample_x_mm / 1000.0) / 2.0
              END''')} AS mask_diameter_px
    FROM pos
    """,
    doc="P11: mask diameter from distance — 600 px reference diameter at "
        "2 m scaled linearly (processstep_make_beam_mask.py:19-24), "
        "mm->m unit conversion and the finite>0 assert of "
        "processstep_make_beam_mask.py:85-92 as a NULL degrade.",
)
def m10_mask_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    pos = li.select(
        F.col("l_orderkey").alias("batch"),
        F.col("l_linenumber").alias("repetition"),
        F.when(F.col("l_returnflag") == "R", -F.col("l_quantity") * 80.0)
        .otherwise(F.col("l_quantity") * 80.0).alias("det_x_mm"),
        (F.col("l_tax") * 1000.0).alias("sample_x_mm"),
    )
    diameter = physics.mask_diameter_px(
        F.col("det_x_mm") / 1000.0, F.col("sample_x_mm") / 1000.0)
    return pos.select(
        "batch", "repetition",
        diameter.isNotNull().cast("int").alias("distance_valid"),
        stable_round(diameter).alias("mask_diameter_px"),
    )


# --------------------------------------------------------------------------
# F7/A7/O4: stacker freshness gate — rerun when no stacked output exists
# or any processed input is newer than it. orders plays the stacked
# outputs (open status = not yet stacked), lineitem rows the processed
# inputs, receipt dates the mtimes.
# --------------------------------------------------------------------------
@register(
    "m11_stacker_freshness",
    oracle="""
    WITH inputs AS (
      SELECT l_orderkey AS batch, MAX(l_shipdate) AS latest_mtime
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT i.batch,
           strftime(i.latest_mtime, '%Y-%m-%d') AS latest_input,
           CAST(o.o_orderstatus <> 'O' AS INT) AS has_stacked,
           CAST(CASE WHEN o.o_orderkey IS NULL OR o.o_orderstatus = 'O'
                     THEN TRUE
                     ELSE i.latest_mtime > o.o_orderdate END
                AS INT) AS needs_processing
    FROM inputs i LEFT JOIN orders o ON i.batch = o.o_orderkey
    """,
    doc="F7: freshness check (processstep_stacker.py:21-39) — needs "
        "processing when the stacked output is absent or "
        "max(input mtime) is newer than it; latest_mtime operator "
        "(operators/aggregates.py) + one join against the output table.",
)
def m11_stacker_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mousedatapipeline_spark.operators.aggregates import latest_mtime
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("batch"), "l_shipdate")
    inputs = latest_mtime(li, ["batch"], "l_shipdate")
    stacked = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("batch"), "o_orderdate", "o_orderstatus")
    j = inputs.join(stacked, "batch", "left")
    no_output = F.col("o_orderkey").isNull() if "o_orderkey" in j.columns \
        else F.col("o_orderdate").isNull()
    needs = F.when(no_output | (F.col("o_orderstatus") == "O"), F.lit(True)) \
        .otherwise(F.col("latest_mtime") > F.col("o_orderdate"))
    return j.select(
        "batch",
        F.date_format("latest_mtime", "yyyy-MM-dd").alias("latest_input"),
        (F.col("o_orderstatus") != "O").cast("int").alias("has_stacked"),
        needs.cast("int").alias("needs_processing"),
    )


# --------------------------------------------------------------------------
# F4: canStack checklist — required datasets present and the referenced
# mask file existing, with the first failing check as the quarantine
# reason (the reference's .stacking_error_list sideband).
# --------------------------------------------------------------------------
@register(
    "m12_canstack_checklist",
    oracle="""
    WITH f AS (
      SELECT l_orderkey AS batch, l_linenumber AS repetition,
             CASE WHEN l_quantity < 3.0 THEN NULL
                  ELSE l_extendedprice / 100.0 END AS flux,
             CASE WHEN l_discount > 0.09 THEN NULL
                  ELSE 1.0 - l_discount END AS transmission,
             CASE WHEN l_tax <= 0.0 THEN NULL
                  ELSE l_quantity / 50.0 END AS wavelength,
             CAST(l_partkey % 350 AS BIGINT) AS mask_ref
      FROM lineitem
    ), masks AS (
      SELECT p_partkey FROM part WHERE p_partkey < 300
    )
    SELECT f.batch, f.repetition,
           CAST(f.flux IS NOT NULL AND f.transmission IS NOT NULL
                AND f.wavelength IS NOT NULL
                AND m.p_partkey IS NOT NULL AS INT) AS can_stack,
           CASE WHEN f.flux IS NULL THEN 'missing:flux'
                WHEN f.transmission IS NULL THEN 'missing:transmission'
                WHEN f.wavelength IS NULL THEN 'missing:wavelength'
                WHEN m.p_partkey IS NULL THEN 'missing:mask_file'
                END AS reject_reason
    FROM f LEFT JOIN masks m ON f.mask_ref = m.p_partkey
    """,
    doc="F4: canStack (post_translation_operation_hdf5_stacker.py:26-78) "
        "— required datasets (flux / transmission / wavelength) non-null "
        "and the referenced mask file present (broadcast membership "
        "probe instead of a filesystem stat); first failing check "
        "becomes the sideband reject reason.",
)
def m12_canstack_checklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mousedatapipeline_spark.operators.filters import can_stack
    li = load(spark, sf_dir, "lineitem")
    f = li.select(
        F.col("l_orderkey").alias("batch"),
        F.col("l_linenumber").alias("repetition"),
        F.when(F.col("l_quantity") < 3.0, F.lit(None).cast("double"))
        .otherwise(F.col("l_extendedprice") / 100.0).alias("flux"),
        F.when(F.col("l_discount") > 0.09, F.lit(None).cast("double"))
        .otherwise(F.lit(1.0) - F.col("l_discount")).alias("transmission"),
        F.when(F.col("l_tax") <= 0.0, F.lit(None).cast("double"))
        .otherwise(F.col("l_quantity") / 50.0).alias("wavelength"),
        (F.col("l_partkey") % 350).cast("bigint").alias("mask_ref"),
    )
    # p_partkey is the part table's unique key — no distinct needed, so
    # the broadcast side is a pure scan with the filter pushed down.
    masks = load(spark, sf_dir, "part").filter(
        F.col("p_partkey") < 300).select("p_partkey")
    j = f.join(F.broadcast(masks),
               f.mask_ref == masks.p_partkey, "left")
    ok = can_stack(j, ["flux", "transmission", "wavelength"],
                   mask_ok=F.col("p_partkey").isNotNull())
    reason = (F.when(F.col("flux").isNull(), "missing:flux")
              .when(F.col("transmission").isNull(), "missing:transmission")
              .when(F.col("wavelength").isNull(), "missing:wavelength")
              .when(F.col("p_partkey").isNull(), "missing:mask_file"))
    return j.select(
        "batch", "repetition",
        ok.cast("int").alias("can_stack"),
        reason.alias("reject_reason"),
    )


# --------------------------------------------------------------------------
# S3/S4/S5/S8/A5/J5: the pluggable nexus ingestion path under the
# DuckDB oracle. The query materializes a real JSON-tree landing dir
# (bounded: l_orderkey < 20) with deliberate gaps, reads it back through
# ``spark.read.format("nexus")`` with a declarative mapping (S8), and
# broadcast-joins the result to the orders dim (J5). The oracle
# recomputes every defensive degradation in SQL over the same lineitem
# rows: missing float -> 0.0 (S3), missing string -> '' (S4),
# array-valued scalar -> mean (A5), so the ingestion surface itself —
# not a stand-in expression — earns the correctness row.
# --------------------------------------------------------------------------
@register(
    "m13_nexus_ingest_merge",
    oracle=f"""
    WITH g AS (
      SELECT l_orderkey AS batch0, l_linenumber AS repetition0,
             strftime(MIN(l_shipdate), '%Y%m%d') AS ymd,
             MIN(l_quantity) AS q, MIN(l_discount) AS d, MIN(l_tax) AS t
      FROM lineitem WHERE l_orderkey < 20
      GROUP BY l_orderkey, l_linenumber
    )
    SELECT CAST(batch0 AS INT) AS batch,
           CAST(repetition0 AS INT) AS repetition,
           ymd,
           {stable_round_sql('1.0 - d')} AS transmission,
           {stable_round_sql(
               'CASE WHEN q < 10.0 THEN 0.0 ELSE q / 100.0 END')} AS thickness,
           {stable_round_sql('((t + t * 2.0) + t * 3.0) / 3.0')} AS mu,
           CASE WHEN q >= 25.0 THEN 'demo' ELSE '' END AS sample_name,
           COALESCE(o.o_orderstatus, '') AS status
    FROM g LEFT JOIN orders o ON g.batch0 = o.o_orderkey
    """,
    doc="S3-S5/S8/A5/J5 end-to-end: JSON-tree repetition files -> "
        "nexus DataSource with declarative mapping (HDF5Translator "
        "step-1 equivalent; src/utilities.py:11-63 degradations: "
        "missing float -> 0.0, missing string -> '', array scalar -> "
        "mean) -> broadcast detector-metadata merge "
        "(src/processstep_translator.py equi-join shape).",
)
def m13_nexus_ingest_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json
    from mousedatapipeline_spark.sources.nexus_source import NexusDataSource

    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 20)
    # One row per repetition key (l_orderkey, l_linenumber) is NOT
    # unique in the synthetic lineitem — min-aggregate every used value
    # so file contents are key-deterministic in both engines.
    rows = (li.groupBy("l_orderkey", "l_linenumber")
            .agg(F.date_format(F.min("l_shipdate"), "yyyyMMdd").alias("ymd"),
                 F.min("l_quantity").alias("q"),
                 F.min("l_discount").alias("d"),
                 F.min("l_tax").alias("t"))
            .collect())  # bounded fixture build (< ~100 files), like w01

    spark.dataSource.register(NexusDataSource)
    mapping = _json.dumps([  # S8: declarative path -> column remap
        {"source_path": "/entry/sample/transmission",
         "column": "transmission", "kind": "float"},
        {"source_path": "/entry/sample/thickness",
         "column": "thickness", "kind": "float"},
        {"source_path": "/entry/sample/mu_arr",
         "column": "mu", "kind": "float"},
        {"source_path": "/entry/sample/name",
         "column": "sample_name", "kind": "string"},
    ])
    # J5: detector <-> metadata equi-join (dim side broadcast).
    dim = load(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < 20).select(
        F.col("o_orderkey").alias("batch"), "o_orderstatus")
    with scratch.workdir("mouse_nexus_m13_") as landing:
        for r in rows:
            sample = {"transmission": 1.0 - r["d"],
                      # A5: array-valued scalar read collapses via mean
                      "mu_arr": [r["t"], r["t"] * 2.0, r["t"] * 3.0]}
            if r["q"] >= 10.0:   # S3: absent float degrades to 0.0
                sample["thickness"] = r["q"] / 100.0
            if r["q"] >= 25.0:   # S4: absent string degrades to ''
                sample["name"] = "demo"
            tree = {"entry": {"sample": sample}}
            key = "MOUSE_{ymd}_{l_orderkey}_{l_linenumber}".format(**r.asDict())
            (landing / f"{key}.json").write_text(_json.dumps(tree))
        ingested = (spark.read.format("nexus")
                    .option("path", str(landing))
                    .option("mapping", mapping).load())
        out = ingested.join(F.broadcast(dim), "batch", "left")
        return scratch.keep(out.select(
            F.col("batch").cast("int").alias("batch"),
            F.col("repetition").cast("int").alias("repetition"),
            "ymd",
            stable_round(F.col("transmission")).alias("transmission"),
            stable_round(F.col("thickness")).alias("thickness"),
            stable_round(F.col("mu")).alias("mu"),
            "sample_name",
            F.coalesce(F.col("o_orderstatus"), F.lit("")).alias("status"),
        ))


# --------------------------------------------------------------------------
# S11: the stacked sink round trip — partitioned zstd parquet written by
# write_stacked and read back must equal the aggregation that produced
# it (partition-column type round trip included).
# --------------------------------------------------------------------------
@register(
    "m14_stacked_sink_roundtrip",
    oracle=f"""
    SELECT CAST(year(l_shipdate) AS INT) AS year,
           l_orderkey AS batch,
           CAST(COUNT(*) AS BIGINT) AS n_reps,
           {stable_round_sql(dsum_sql("l_quantity"))} AS qty_sum
    FROM lineitem GROUP BY 1, 2
    """,
    doc="S11: stacked-results sink (sinks.write_stacked — partitioned, "
        "zstd, dynamic partition overwrite) written then read back; "
        "the oracle is the producing aggregation, so the parquet round "
        "trip (values AND the year partition column's inferred type) "
        "is what is checked.",
)
def m14_stacked_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mousedatapipeline_spark.sources.sinks import write_stacked

    li = load(spark, sf_dir, "lineitem")
    stacked = li.groupBy(
        F.year("l_shipdate").cast("int").alias("year"),
        F.col("l_orderkey").alias("batch")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_reps"),
        stable_round(dsum("l_quantity")).alias("qty_sum"))
    with scratch.workdir("mouse_stacked_m14_") as out_dir:
        write_stacked(stacked, str(out_dir), partition_cols=("year",))
        back = spark.read.parquet(str(out_dir))
        return scratch.keep(back.select(
            F.col("year").cast("int").alias("year"),
            "batch", "n_reps", "qty_sum"))


@register(
    "m16_daily_ops_dashboard",
    oracle=f"""
    WITH m AS (
      SELECT strftime(l_shipdate, '%Y%m%d') AS ymd,
             l_orderkey AS batch,
             (1.0 - l_discount) AS transmission,
             CASE WHEN l_quantity >= 40.0 THEN l_quantity / 100.0
                  ELSE -1.0 END AS samplethickness,
             l_extendedprice / 100.0 AS direct_flux
      FROM lineitem
    )
    SELECT ymd,
           CAST(COUNT(DISTINCT batch) AS BIGINT) AS n_batches,
           CAST(COUNT(*) AS BIGINT) AS n_reps,
           CAST(COUNT(CASE WHEN samplethickness > 0
                            AND transmission > 0 AND transmission < 1
                           THEN 1 END) AS BIGINT) AS n_processable,
           {stable_round_sql(
               dsum_sql("transmission") + " / CAST(COUNT(*) AS DOUBLE)")}
             AS mean_transmission,
           {stable_round_sql('MAX(direct_flux)')} AS max_flux
    FROM m GROUP BY ymd
    """,
    doc="Daily operations dashboard (the reference's per-ymd processing "
        "view: what landed, what can run — directory_processor.py's "
        "per-day iteration surface turned into one grouped scan): "
        "batches and repetitions per day, the F1-processable count "
        "(valid thickness + physical transmission), mean transmission "
        "and peak flux. One shuffle on ymd; every gate predicate "
        "evaluates in the scan stage.",
)
def m16_daily_ops_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = measurements(spark, sf_dir)
    processable = ((F.col("samplethickness") > 0)
                   & (F.col("transmission") > 0)
                   & (F.col("transmission") < 1))
    n = F.count(F.lit(1))
    return m.groupBy("ymd").agg(
        F.countDistinct("batch").cast("bigint").alias("n_batches"),
        n.cast("bigint").alias("n_reps"),
        F.count(F.when(processable, 1)).cast("bigint")
        .alias("n_processable"),
        stable_round(dsum("transmission") / n.cast("double"))
        .alias("mean_transmission"),
        stable_round(F.max("direct_flux")).alias("max_flux"))


@register(
    "m17_repetition_drift_qc",
    oracle=f"""
    WITH m AS (
      SELECT l_orderkey AS batch,
             CAST(l_orderkey % 3 AS INT) AS configuration,
             (1.0 - l_discount) AS transmission
      FROM lineitem
    ),
    g AS (
      SELECT batch, configuration,
             CAST(COUNT(*) AS BIGINT) AS n_reps,
             {dsum_sql("transmission")} AS t_sum,
             {", ".join(dvar_parts_sql("transmission", "tv"))}
      FROM m GROUP BY batch, configuration
    )
    SELECT batch, configuration, n_reps,
           {stable_round_sql('t_sum / CAST(n_reps AS DOUBLE)')} AS t_mean,
           {stable_round_sql(
               'CASE WHEN n_reps > 1 THEN '
               f'SQRT({dvar_sql("tv", "n_reps")}) '
               '/ (t_sum / CAST(n_reps AS DOUBLE)) ELSE 0.0 END')}
             AS cv,
           CAST(n_reps > 1 AND
                SQRT({dvar_sql("tv", "n_reps")})
                / (t_sum / CAST(n_reps AS DOUBLE)) > 0.05
                AS INT) AS drift_flag
    FROM g
    """,
    doc="Repetition-stability QC (the drift gate A1/A2 stacking "
        "implicitly assumes: repetitions of one (batch, configuration) "
        "measure the SAME sample state): per group, the coefficient of "
        "variation of transmission across repetitions from exact "
        "decimal sums (dsum for the mean, dvar's centred sums for the "
        "variance — identical IEEE expressions both engines), flagged "
        "above 5% CV. "
        "A flagged batch means the beam or sample moved mid-series "
        "and its stack statistics are averaging different states. "
        "One shuffle.",
)
def m17_repetition_drift_qc(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = measurements(spark, sf_dir)
    g = m.groupBy("batch", "configuration").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_reps"),
        dsum("transmission", "t_sum"),
        *dvar_parts("transmission", "tv"))
    mean = F.col("t_sum") / F.col("n_reps").cast("double")
    cv = F.when(F.col("n_reps") > 1,
                F.sqrt(dvar("tv", "n_reps")) / mean).otherwise(0.0)
    return g.select(
        "batch", "configuration", "n_reps",
        stable_round(mean).alias("t_mean"),
        stable_round(cv).alias("cv"),
        ((F.col("n_reps") > 1) & (cv > 0.05)).cast("int")
        .alias("drift_flag"))


# --------------------------------------------------------------------------
# S1/S2/F1 end-to-end, driver-visible: a minted on-disk repetition tree
# scanned by the distributed binaryFile listing, keys parsed from paths,
# completeness censused — the full directory_processor front door
# (src/directory_processor.py:90-95 glob + src/YMD_class.py:33-44 key
# parse + src/checkers.py:19-46 counts), hash-gated against the closed
# form of the minted tree.
# --------------------------------------------------------------------------
@register(
    "m19_manifest_scan",
    oracle="""
    WITH k AS (
      SELECT o_orderkey AS batch,
             strftime(o_orderdate, '%Y%m%d') AS ymd
      FROM orders WHERE o_orderkey < 30
    ),
    r AS (
      SELECT batch, ymd, u.rep
      FROM k, UNNEST(generate_series(1, 1 + batch % 3)) AS u(rep)
    )
    SELECT ymd, CAST(batch AS INT) AS batch, CAST(rep AS INT) AS repetition,
           CAST(2 AS BIGINT) AS n_sub_master,
           CAST(2 AS BIGINT) AS n_sub_craw,
           CAST(CASE WHEN (batch + rep) % 4 = 0 THEN 0 ELSE 1 END
                AS BIGINT) AS n_top_master,
           CAST(1 AS BIGINT) AS n_top_craw,
           CAST(CASE WHEN (batch + rep) % 4 = 0 THEN 0 ELSE 1 END
                AS INT) AS is_complete,
           CASE WHEN (batch + rep) % 4 = 0 THEN 'n_top_master!=1'
                ELSE '' END AS missing_csv
    FROM r
    """,
    doc="S1/S2/F1 end-to-end: deterministic repetition directory tree "
        "({year}/{ymd}/{ymd}_{batch}_{rep}/ with the reference's file "
        "patterns; every (batch+rep) % 4 == 0 repetition minted "
        "incomplete by omitting its top-level detector master) -> "
        "distributed binaryFile listing (sources/manifest.scan_files) "
        "-> path-key extraction -> per-pattern census + completeness "
        "verdict. The oracle is the closed form of the minted tree, so "
        "a listing gap, key-parse slip, or census off-by-one all break "
        "the hash.",
)
def m19_manifest_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mousedatapipeline_spark.sources.manifest import (
        extract_keys,
        repetition_manifest,
        scan_files,
    )

    keys = (load(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey") < 30)
            .select(F.col("o_orderkey").alias("batch"),
                    F.date_format("o_orderdate", "yyyyMMdd").alias("ymd"))
            .collect())  # bounded fixture build (< ~30 dirs), like m13

    with scratch.workdir("mouse_manifest_m19_") as root:
        for r in keys:
            for rep in range(1, 2 + r["batch"] % 3):
                d = (root / r["ymd"][:4] / r["ymd"]
                     / f"{r['ymd']}_{r['batch']}_{rep}")
                for sub in ("beam_profile", "beam_profile_through_sample"):
                    (d / sub).mkdir(parents=True, exist_ok=True)
                    (d / sub / "eiger_1_master.h5").write_bytes(b"x")
                    (d / sub / "im_craw.nxs").write_bytes(b"x")
                if (r["batch"] + rep) % 4 != 0:  # minted incompleteness
                    (d / "eiger_2_master.h5").write_bytes(b"x")
                (d / "im_craw.nxs").write_bytes(b"x")

        manifest = repetition_manifest(
            extract_keys(scan_files(spark, str(root))))
        return scratch.keep(manifest.select(
            "ymd", F.col("batch").cast("int").alias("batch"),
            F.col("repetition").cast("int").alias("repetition"),
            "n_sub_master", "n_sub_craw", "n_top_master", "n_top_craw",
            F.col("is_complete").cast("int").alias("is_complete"),
            F.array_join("missing", ",").alias("missing_csv")))


# --------------------------------------------------------------------------
# S13 end-to-end, driver-visible: the quarantine sideband round trip —
# split_valid's rejected branch written through write_quarantine,
# re-read from disk, and censused per reject reason alongside the valid
# count. The reference's `.stacking_error_list` text sideband
# (src/post_translation_operation_hdf5_stacker.py:104-108) as a typed,
# appendable parquet table.
# --------------------------------------------------------------------------
@register(
    "m20_quarantine_roundtrip",
    oracle="""
    SELECT reason, CAST(COUNT(*) AS BIGINT) AS n
    FROM (
      SELECT CASE WHEN l_quantity > 40 THEN 'quantity_overflow'
                  WHEN l_discount > 0.06 THEN 'discount_out_of_range'
                  ELSE '__valid__' END AS reason
      FROM lineitem WHERE l_orderkey < 2000
    ) GROUP BY reason
    """,
    doc="S13 end-to-end: canStack-style validation splits a lineitem "
        "subset into valid rows and a quarantine sideband "
        "(operators/filters.split_valid -> sources/sinks."
        "write_quarantine, the typed replacement for the reference's "
        ".stacking_error_list); the rejected rows are READ BACK from "
        "the parquet sideband and censused per reject reason next to "
        "the valid count — proving rejected rows land on disk with "
        "their reasons intact, not merely that the filter splits.",
)
def m20_quarantine_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mousedatapipeline_spark.operators.filters import split_valid
    from mousedatapipeline_spark.sources.sinks import write_quarantine

    li = (load(spark, sf_dir, "lineitem")
          .filter(F.col("l_orderkey") < 2000)
          .select("l_orderkey", "l_linenumber", "l_quantity",
                  "l_discount"))
    ok, bad = split_valid(
        li,
        (F.col("l_quantity") <= 40) & (F.col("l_discount") <= 0.06),
        reason=F.when(F.col("l_quantity") > 40,
                      F.lit("quantity_overflow"))
        .otherwise(F.lit("discount_out_of_range")))

    valid = ok.agg(F.count(F.lit(1)).cast("bigint").alias("n")).select(
        F.lit("__valid__").alias("reason"), "n")
    with scratch.workdir("mouse_quarantine_m20_") as qdir:
        write_quarantine(bad, str(qdir))
        back = spark.read.parquet(str(qdir))
        rejected = back.groupBy(F.col("reject_reason").alias("reason")).agg(
            F.count(F.lit(1)).cast("bigint").alias("n"))
        return scratch.keep(rejected.unionByName(valid))
