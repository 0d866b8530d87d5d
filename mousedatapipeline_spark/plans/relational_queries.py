"""Relational query catalog: SURVEY.md §2 operator families exercised on
the driver's star schema, each with a DuckDB oracle.

Operator coverage map (SURVEY §2 id -> query):
  A1 (stack/collect ordered)     -> q13_repetition_stack, q14_first_file
  A2 (stack statistics)          -> q01_pricing_summary, q11_stack_stats
  A4 (group-max propagation)     -> q05_window_propagation
  A6/F1 (census + completeness)  -> q02_order_census
  J1 (broadcast dim join)        -> q03_region_revenue
  J2/O2 (as-of join / top-1)     -> q04_asof_view_before_purchase,
                                    q06_latest_order_per_customer
  J6/F2 (semi/anti membership)   -> q07_customers_without_orders,
                                    q08_active_customers_semi
  P8/P10 (guarded math)          -> q09_thickness_physics
  P7/P13 (energy / gated factor) -> q10_energy_tcf
  P15/P16 (identifiers, dates)   -> q12_identifiers, q15_date_arith

Parity conventions (see plans/catalog.py): decimal-accumulated sums cast
to double (order-independent), identical derived-expression trees on both
sides, round() only on transcendental outputs, timestamps emitted as
formatted strings, every computed column aliased identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mousedatapipeline_spark import scratch
from mousedatapipeline_spark.functions import physics
from mousedatapipeline_spark.operators import joins, windows
from mousedatapipeline_spark.functions.rounding import (
    stable_round,
    stable_round_sql,
)
from mousedatapipeline_spark.operators.aggregates import (
    DEC, census, dsum, dsum_sql, dvar_parts_sql, dvar_sql, first_by_order,
    profile_columns,
    repetition_stack, stack_stats,
)
from mousedatapipeline_spark.plans.catalog import _REGISTRY, register
from mousedatapipeline_spark.tables import load


# --------------------------------------------------------------------------
# A2/A1: grouped statistics over a filtered fact scan (TPC-H Q1 shape).
# Scale: single shuffle on a low-cardinality key; partial aggregation
# map-side; the shipdate filter is pushed to the parquet scan.
# --------------------------------------------------------------------------
@register(
    "q01_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {stable_round_sql(dsum_sql("l_quantity"))} AS sum_qty,
           {stable_round_sql(dsum_sql("l_extendedprice"))} AS sum_base_price,
           {stable_round_sql(dsum_sql("l_extendedprice * (1.0 - l_discount)"))} AS sum_disc_price,
           {stable_round_sql(dsum_sql("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)"))} AS sum_charge,
           {stable_round_sql(dsum_sql("l_quantity") + " / CAST(COUNT(*) AS DOUBLE)")} AS avg_qty,
           {stable_round_sql(dsum_sql("l_extendedprice") + " / CAST(COUNT(*) AS DOUBLE)")} AS avg_price,
           {stable_round_sql(dsum_sql("l_discount") + " / CAST(COUNT(*) AS DOUBLE)")} AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="A1/A2: filtered scan -> grouped sums/averages (TPC-H Q1 shape).",
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    agg = li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity", "sum_qty"),
        dsum("l_extendedprice", "sum_base_price"),
        dsum(disc_price, "sum_disc_price"),
        dsum(charge, "sum_charge"),
        dsum("l_discount", "__sum_disc"),
        F.count(F.lit(1)).cast("bigint").alias("count_order"),
    )
    n = F.col("count_order").cast("double")
    return (agg
            .withColumn("avg_qty", stable_round(F.col("sum_qty") / n))
            .withColumn("avg_price", stable_round(F.col("sum_base_price") / n))
            .withColumn("avg_disc", stable_round(F.col("__sum_disc") / n))
            .withColumn("sum_qty", stable_round(F.col("sum_qty")))
            .withColumn("sum_base_price", stable_round(F.col("sum_base_price")))
            .withColumn("sum_disc_price", stable_round(F.col("sum_disc_price")))
            .withColumn("sum_charge", stable_round(F.col("sum_charge")))
            .drop("__sum_disc"))


# --------------------------------------------------------------------------
# A6/F1: per-group conditional census + completeness predicate (HAVING).
# --------------------------------------------------------------------------
@register(
    "q02_order_census",
    oracle="""
    SELECT l_orderkey,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END) AS BIGINT) AS n_returned,
           CAST(COUNT(CASE WHEN l_quantity >= 25.0 THEN 1 END) AS BIGINT) AS n_bulk
    FROM lineitem
    GROUP BY l_orderkey
    HAVING COUNT(*) >= 5
    """,
    doc="A6/F1: file-count census -> completeness filter (checkers.py:19-46 shape).",
)
def q02_order_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    out = census(li, ["l_orderkey"], {
        "n_lines": F.lit(True),
        "n_returned": F.col("l_returnflag") == "R",
        "n_bulk": F.col("l_quantity") >= 25.0,
    })
    return out.filter(F.col("n_lines") >= 5)


# --------------------------------------------------------------------------
# J1: broadcast dimension joins (logbook-lookup shape). region/nation are
# broadcast at any scale; customer is broadcast relative to orders.
# --------------------------------------------------------------------------
@register(
    "q03_region_revenue",
    oracle=f"""
    SELECT r.r_name,
           {stable_round_sql(dsum_sql("o.o_totalprice"))} AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
    doc="J1: broadcast hash joins fact->dims, grouped revenue.",
)
def q03_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    dim = (cust
           .join(F.broadcast(nation),
                 cust.c_nationkey == nation.n_nationkey)
           .join(F.broadcast(region),
                 nation.n_regionkey == region.r_regionkey)
           .select("c_custkey", "r_name"))
    joined = orders.join(F.broadcast(dim),
                         orders.o_custkey == dim.c_custkey)
    return joined.groupBy("r_name").agg(
        stable_round(dsum("o_totalprice")).alias("revenue"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
    )


# --------------------------------------------------------------------------
# J2: as-of join — for each purchase, the latest view at-or-before it by
# the same user. Single shuffle union+carry-forward (operators/joins.py),
# no pair explosion under key skew.
# --------------------------------------------------------------------------
@register(
    "q04_asof_view_before_purchase",
    oracle="""
    WITH p AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), v AS (
      SELECT user_id, ts, MAX(event_id) AS view_event_id
      FROM events WHERE event_type = 'view' GROUP BY user_id, ts
    )
    SELECT p.event_id,
           p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           v.view_event_id,
           strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts
    FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
    """,
    doc="J2: as-of join (mask-selection semantics, add_mask_file.py:34-81).",
)
def q04_asof_view_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select("event_id", "user_id", "ts"))
    views = (ev.filter(F.col("event_type") == "view")
             .groupBy("user_id", "ts")
             .agg(F.max("event_id").alias("view_event_id"))
             .withColumn("view_ts", F.col("ts")))
    out = joins.asof_join(purchases, views, on=["user_id"],
                          left_time="ts", right_time="ts",
                          right_values=["view_event_id", "view_ts"],
                          suffix="")
    return out.select(
        "event_id", "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        "view_event_id",
        F.date_format("view_ts", "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
    )


# --------------------------------------------------------------------------
# A4: group-max propagation onto every row (one window, no self-join).
# --------------------------------------------------------------------------
@register(
    "q05_window_propagation",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           MAX(o_totalprice) OVER (PARTITION BY o_custkey) AS batch_max_price,
           CAST(COUNT(*) OVER (PARTITION BY o_custkey) AS BIGINT) AS batch_n
    FROM orders
    """,
    doc="A4: propagate per-batch max to every row (propagator.py:54-81 shape).",
)
def q05_window_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    out = windows.propagate_group_max(
        orders, ["o_custkey"], {"o_totalprice": "batch_max_price"})
    w = Window.partitionBy("o_custkey")
    return (out.withColumn("batch_n", F.count(F.lit(1)).over(w).cast("bigint"))
            .select("o_orderkey", "o_custkey", "o_totalprice",
                    "batch_max_price", "batch_n"))


# --------------------------------------------------------------------------
# O2: deterministic top-1 per group.
# --------------------------------------------------------------------------
@register(
    "q06_latest_order_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS latest_orderdate,
           o_totalprice
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY o_custkey
        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
    doc="O2: nearest/latest top-1 per group via row_number (add_mask_file.py:63-73 shape).",
)
def q06_latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    top = windows.top1_per_group(
        orders, ["o_custkey"],
        [F.col("o_orderdate").desc(), F.col("o_orderkey").desc()])
    return top.select(
        "o_custkey", "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("latest_orderdate"),
        "o_totalprice")


# --------------------------------------------------------------------------
# J6/F2: anti membership (not-yet-processed shape).
# --------------------------------------------------------------------------
@register(
    "q07_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
    doc="J6/F2: left-anti join = already_processed complement (checkers.py:5-13).",
)
def q07_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"))
    return joins.anti_members(cust, orders, ["c_custkey"]).select(
        "c_custkey", "c_name", "c_acctbal")


# --------------------------------------------------------------------------
# J6: semi membership.
# --------------------------------------------------------------------------
@register(
    "q08_active_customers_semi",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey IN (
      SELECT o_custkey FROM orders WHERE o_totalprice > 200000.0)
    """,
    doc="J6: left-semi membership (utilities.py:66-71 shape).",
)
def q08_active_customers_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    big = load(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 200000.0).select(
        F.col("o_custkey").alias("c_custkey"))
    return joins.semi_members(cust, big, ["c_custkey"]).select(
        "c_custkey", "c_name")


# --------------------------------------------------------------------------
# P8/P10: guarded transcendental math with load-bearing sentinels.
# --------------------------------------------------------------------------
@register(
    "q09_thickness_physics",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           {stable_round_sql('''CASE WHEN l_tax * 10.0 > 0.0
                       AND ABS(l_discount) > 0.0 AND ABS(l_discount) <= 1.0
                      THEN -SIGN(l_discount) * LN(1.0 - ABS(l_discount)) / (l_tax * 10.0)
                      ELSE -1.0 END''')} AS derived_thickness,
           {stable_round_sql('''CASE WHEN l_quantity >= 25.0 THEN l_quantity
                      WHEN l_tax * 10.0 > 0.0
                       AND ABS(l_discount) > 0.0 AND ABS(l_discount) <= 1.0
                      THEN -SIGN(l_discount) * LN(1.0 - ABS(l_discount)) / (l_tax * 10.0)
                      ELSE -1.0 END''')} AS thickness
    FROM lineitem
    """,
    doc="P8/P10: thickness-from-absorption with -1 sentinel + selection "
        "(thickness_from_absorption.py:36-52,167-202).",
)
def q09_thickness_physics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    derived = physics.thickness_from_absorption(
        F.col("l_discount"), F.col("l_tax") * F.lit(10.0))
    logbook_t = F.when(F.col("l_quantity") >= 25.0, F.col("l_quantity")).otherwise(
        F.lit(-1.0))
    selected = physics.select_thickness(
        F.when(logbook_t >= 0, logbook_t), derived)
    return li.select(
        "l_orderkey", "l_linenumber",
        stable_round(derived).alias("derived_thickness"),
        stable_round(selected).alias("thickness"),
    )


# --------------------------------------------------------------------------
# P7/P13: energy from wavelength (0.0 sentinel) + TCF gate (>1 only).
# --------------------------------------------------------------------------
@register(
    "q10_energy_tcf",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           {stable_round_sql('''CASE WHEN (l_quantity - 5.0) / 10.0 <= 0.0 THEN 0.0
                      ELSE 1.2398419843320026 / ((l_quantity - 5.0) / 10.0)
                 END''')} AS energy_kev,
           {stable_round_sql('''CASE WHEN 1.0 + l_tax > 1.0
                      THEN (1.0 - l_discount) * (1.0 + l_tax)
                      ELSE 1.0 - l_discount END''')} AS transmission_corrected
    FROM lineitem
    """,
    doc="P7/P13: E=hc/lambda with <=0 -> 0.0 sentinel (metadata_update.py:51-87); "
        "factor applied only when > 1 (apply_transmission_correction_factor.py:59-62).",
)
def q10_energy_tcf(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    wavelength = (F.col("l_quantity") - F.lit(5.0)) / F.lit(10.0)
    transmission = F.lit(1.0) - F.col("l_discount")
    tcf = F.lit(1.0) + F.col("l_tax")
    return li.select(
        "l_orderkey", "l_linenumber",
        stable_round(physics.energy_kev(wavelength)).alias("energy_kev"),
        stable_round(physics.apply_tcf(transmission, tcf)).alias(
            "transmission_corrected"),
    )


# --------------------------------------------------------------------------
# A2: full stack statistics (mean/std ddof=1/sem/max/min/count).
# --------------------------------------------------------------------------
@register(
    "q11_stack_stats",
    oracle=f"""
    WITH s AS (
      SELECT l_suppkey,
             {dsum_sql("l_extendedprice")} AS su,
             {", ".join(dvar_parts_sql("l_extendedprice", "sv"))},
             CAST(COUNT(l_extendedprice) AS BIGINT) AS price_count,
             MAX(l_extendedprice) AS price_max,
             MIN(l_extendedprice) AS price_min
      FROM lineitem GROUP BY l_suppkey
    )
    SELECT l_suppkey, price_count, price_max, price_min,
           {stable_round_sql("su / CAST(price_count AS DOUBLE)")} AS price_mean,
           {stable_round_sql(f"SQRT({dvar_sql('sv', 'price_count')})")}
             AS price_std,
           {stable_round_sql(f"SQRT({dvar_sql('sv', 'price_count')})"
                             " / SQRT(CAST(price_count AS DOUBLE))")}
             AS price_sem
    FROM s
    """,
    doc="A2: stacker statistics mean/std(ddof=1)/sem/max/min/count "
        "(hdf5_stacker.py:162-189).",
)
def q11_stack_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    out = stack_stats(li, ["l_suppkey"], "l_extendedprice", prefix="price_")
    return out.select(
        "l_suppkey", "price_count", "price_max", "price_min",
        stable_round(F.col("price_mean")).alias("price_mean"),
        stable_round(F.col("price_std")).alias("price_std"),
        stable_round(F.col("price_sem")).alias("price_sem"),
    )


# --------------------------------------------------------------------------
# P15/P16: identifier construction with real NULLs + date parts.
# --------------------------------------------------------------------------
@register(
    "q12_identifiers",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS VARCHAR) || '_' ||
             CAST(o_custkey AS VARCHAR) AS collection_identifier,
           CASE WHEN o_orderstatus = 'O' THEN NULL
                ELSE CAST(o_custkey AS VARCHAR) || '_' || o_orderstatus
           END AS background_identifier,
           CAST(year(o_orderdate) AS INT) AS order_year,
           CAST(month(o_orderdate) AS INT) AS order_month
    FROM orders
    """,
    doc="P15/P16: collection/background identifiers, NULL over 'None' sentinel "
        "(metadata_update.py:110-150), date parts (YMD_class.py:6-31).",
)
def q12_identifiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.concat(F.year("o_orderdate").cast("string"), F.lit("_"),
                 F.col("o_custkey").cast("string")).alias("collection_identifier"),
        F.when(F.col("o_orderstatus") == "O", F.lit(None).cast("string"))
        .otherwise(F.concat(F.col("o_custkey").cast("string"), F.lit("_"),
                            F.col("o_orderstatus")))
        .alias("background_identifier"),
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.month("o_orderdate").cast("int").alias("order_month"),
    )


# --------------------------------------------------------------------------
# A1: repetition stack — per-group array ordered by repetition number,
# emitted as a canonical string so both engines hash identically.
# --------------------------------------------------------------------------
@register(
    "q13_repetition_stack",
    oracle="""
    SELECT l_orderkey,
           string_agg(CAST(CAST(l_quantity AS BIGINT) AS VARCHAR), ','
                      ORDER BY l_linenumber, CAST(l_quantity AS BIGINT)) AS qty_seq,
           CAST(COUNT(*) AS BIGINT) AS n_reps
    FROM lineitem
    GROUP BY l_orderkey
    """,
    doc="A1: ordered repetition stacking (hdf5_stacker.py:120-126, "
        "utilities.py:92-93); array canonicalized to CSV string.",
)
def q13_repetition_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").withColumn(
        "qty_int", F.col("l_quantity").cast("bigint"))
    stacked = repetition_stack(li, ["l_orderkey"], "l_linenumber", "qty_int",
                               alias="qty_arr")
    return stacked.select(
        "l_orderkey",
        F.array_join(F.transform("qty_arr", lambda v: v.cast("string")), ",")
        .alias("qty_seq"),
        "n_reps",
    )


# --------------------------------------------------------------------------
# A1 "from first file": min_by — the value at the lowest repetition.
# --------------------------------------------------------------------------
@register(
    "q14_first_file",
    oracle="""
    SELECT l_orderkey,
           strftime(l_shipdate, '%Y-%m-%d') AS first_shipdate,
           CAST(l_quantity AS BIGINT) AS first_qty
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY l_orderkey
        ORDER BY l_linenumber, l_shipdate, l_quantity) AS rn
      FROM lineitem
    ) WHERE rn = 1
    """,
    doc="A1: non-stacked datasets taken from the first (lowest-repetition) file "
        "(hdf5_stacker.py:191-214). l_linenumber is non-unique in the synthetic "
        "data, so the order key is extended to a total order for determinism.",
)
def q14_first_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    order = F.struct("l_linenumber", "l_shipdate", "l_quantity")
    picked = li.groupBy("l_orderkey").agg(
        first_by_order(value=F.struct("l_shipdate", "l_quantity"),
                       order=order).alias("first"),
    )
    return picked.select(
        "l_orderkey",
        F.date_format("first.l_shipdate", "yyyy-MM-dd").alias("first_shipdate"),
        F.col("first.l_quantity").cast("bigint").alias("first_qty"),
    )


# --------------------------------------------------------------------------
# P16: date arithmetic across a fact-fact join.
# --------------------------------------------------------------------------
@register(
    "q15_date_arith",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber,
           CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                          CAST(l.l_shipdate AS DATE)) AS INT) AS ship_delay_days
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE date_diff('day', CAST(o.o_orderdate AS DATE),
                    CAST(l.l_shipdate AS DATE)) > 60
    """,
    doc="P16: date parse/diff (YMD_class.py:6-31; add_mask_file.py:64-73 day math).",
)
def q15_date_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey)
    delay = F.datediff(F.col("l_shipdate").cast("date"),
                       F.col("o_orderdate").cast("date"))
    return (joined.filter(delay > 60)
            .select("l_orderkey", "l_linenumber",
                    delay.cast("int").alias("ship_delay_days")))


@register(
    "q16_column_profile",
    oracle=f"""
    WITH u AS (
      SELECT 'l_quantity' AS col_name, l_quantity AS v FROM lineitem
      UNION ALL
      SELECT 'l_extendedprice', l_extendedprice FROM lineitem
      UNION ALL
      SELECT 'l_discount', l_discount FROM lineitem
    )
    SELECT col_name,
           CAST(COUNT(v) AS BIGINT) AS n,
           CAST(COUNT(*) - COUNT(v) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct,
           {stable_round_sql('MIN(v)')} AS min_v,
           {stable_round_sql('MAX(v)')} AS max_v,
           {stable_round_sql(dsum_sql("v") + " / COUNT(v)")}
               AS mean_v,
           {stable_round_sql('quantile_cont(v, 0.25)')} AS p25,
           {stable_round_sql('quantile_cont(v, 0.5)')} AS p50,
           {stable_round_sql('quantile_cont(v, 0.75)')} AS p75,
           {stable_round_sql('quantile_cont(v, 0.95)')} AS p95
    FROM u GROUP BY col_name
    """,
    doc="Data-profiling summary (beyond-reference, training-data QA): "
        "count/nulls/exact-distinct/min/max/mean/exact quantiles per "
        "numeric column in ONE aggregation pass over an in-scan unpivot "
        "(operators.aggregates.profile_columns). exact=False switches "
        "to the percentile_approx sketch for the 100 TB path.",
)
def q16_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    li = load(spark, sf_dir, "lineitem").select(*cols)
    prof = profile_columns(li, cols)
    rounded = [stable_round(F.col(c)).alias(c)
               for c in ["min_v", "max_v", "mean_v",
                         "p25", "p50", "p75", "p95"]]
    return prof.select("col_name", "n", "n_null", "n_distinct", *rounded)


# --------------------------------------------------------------------------
# Multi-level aggregation (ROLLUP): region -> nation -> grand total in ONE
# pass. Reference has only flat groupBys; this is the OLAP rollup shape a
# reporting layer needs. Scale: Spark expands the rollup into a single
# Expand + hash aggregate — one shuffle regardless of level count;
# nation/region are broadcast, and customer (which grows with the data)
# broadcasts only while the session threshold admits it.
# --------------------------------------------------------------------------
@register(
    "q17_rollup_revenue",
    oracle="""
    SELECT COALESCE(r.r_name, '<all>') AS region_name,
           CASE WHEN r.r_name IS NULL THEN '<all>'
                ELSE COALESCE(n.n_name, '<all>') END AS nation_name,
           {rr} AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """.format(rr=stable_round_sql(dsum_sql("o.o_totalprice"))),
    doc="Hierarchical ROLLUP aggregation (region, nation, grand total) "
        "in one Expand+aggregate pass; NULL grouping slots rendered as "
        "'<all>' on both engines.",
)
def q17_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    joined = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    # grouping() distinguishes "NULL because rolled up" from a genuine
    # NULL key, so the '<all>' rendering is exact on both engines.
    rolled = (
        joined.rollup("r_name", "n_name")
        .agg(dsum("o_totalprice").alias("revenue_d"),
             F.count(F.lit(1)).cast("bigint").alias("n_orders"),
             F.grouping("r_name").alias("_gr"),
             F.grouping("n_name").alias("_gn"))
    )
    return rolled.select(
        F.when(F.col("_gr") == 1, F.lit("<all>"))
         .otherwise(F.col("r_name")).alias("region_name"),
        F.when((F.col("_gr") == 1) | (F.col("_gn") == 1), F.lit("<all>"))
         .otherwise(F.col("n_name")).alias("nation_name"),
        stable_round(F.col("revenue_d").cast("double")).alias("revenue"),
        "n_orders")


# --------------------------------------------------------------------------
# Snapshot diff / CDC extraction: the incremental-refresh primitive.
# Two deterministic snapshots are derived from orders (old drops keys
# %89==0 and perturbs price for %13==0; new drops keys %97==0), so the
# diff contains all three action kinds with exactly known membership.
# --------------------------------------------------------------------------
@register(
    "q18_snapshot_diff",
    oracle="""
    WITH old_snap AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1.0
                  ELSE o_totalprice END AS o_totalprice,
             o_orderstatus
      FROM orders WHERE o_orderkey % 89 <> 0
    ),
    new_snap AS (
      SELECT o_orderkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 97 <> 0
    )
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                WHEN n.o_orderkey IS NULL THEN 'delete'
                WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
                  OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                  THEN 'update' END AS action,
           o.o_totalprice AS old_o_totalprice,
           n.o_totalprice AS new_o_totalprice,
           o.o_orderstatus AS old_o_orderstatus,
           n.o_orderstatus AS new_o_orderstatus
    FROM old_snap o FULL OUTER JOIN new_snap n
      ON o.o_orderkey = n.o_orderkey
    WHERE (CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                WHEN n.o_orderkey IS NULL THEN 'delete'
                WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
                  OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                  THEN 'update' END) IS NOT NULL
    """,
    doc="Snapshot diff / CDC extraction: one full-outer equi-join of "
        "two keyed snapshots -> insert/delete/update rows; null-safe "
        "column compare (no row-fingerprint strings). Co-located "
        "sort-merge join with zero shuffle when snapshots are bucketed "
        "by key (operators.joins.snapshot_diff).",
)
def q18_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mousedatapipeline_spark.operators.joins import snapshot_diff
    orders = load(spark, sf_dir, "orders")
    old_snap = (orders.filter(F.col("o_orderkey") % 89 != 0)
                .select("o_orderkey",
                        F.when(F.col("o_orderkey") % 13 == 0,
                               F.col("o_totalprice") + 1.0)
                        .otherwise(F.col("o_totalprice"))
                        .alias("o_totalprice"),
                        "o_orderstatus"))
    new_snap = (orders.filter(F.col("o_orderkey") % 97 != 0)
                .select("o_orderkey", "o_totalprice", "o_orderstatus"))
    return snapshot_diff(old_snap, new_snap, ["o_orderkey"],
                         ["o_totalprice", "o_orderstatus"])


# --------------------------------------------------------------------------
# Incremental aggregate maintenance: q18's companion. new_agg =
# old_agg (+) delta(CDC diff) — the oracle computes the new snapshot's
# aggregate DIRECTLY, so a hash match proves incremental maintenance
# is exactly equivalent to full recomputation. Exactness relies on
# decimal accumulators end-to-end: sums stay DEC-based
# until one final cast, so old+delta is bit-identical to a full
# re-sum regardless of partitioning or merge order.
# At 100 TB: the old aggregate and the CDC feed are materialized
# tables; the refresh cost is proportional to the DELTA, never to the
# fact table. Here both are simulated from `orders` in one plan.
# --------------------------------------------------------------------------


@register(
    "q19_incremental_agg",
    oracle="""
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {rr} AS revenue
    FROM orders WHERE o_orderkey % 97 <> 0
    GROUP BY o_custkey
    """.format(rr=stable_round_sql(dsum_sql("o_totalprice"))),
    doc="Incremental view maintenance: per-customer (count, revenue) "
        "maintained by merging the CDC delta into the old aggregate "
        "(insert:+new, delete:-old, update:+new-old); groups whose "
        "count reaches zero are retired. Oracle computes the new "
        "snapshot's aggregate directly — the hash match proves "
        "incremental == full recompute, exactly (decimal "
        "accumulators).",
)
def q19_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mousedatapipeline_spark.operators.aggregates import (
        incremental_agg_merge,
    )
    orders = load(spark, sf_dir, "orders") \
        .select("o_orderkey", "o_custkey", "o_totalprice")
    old_snap = (orders.filter(F.col("o_orderkey") % 89 != 0)
                .select("o_orderkey", "o_custkey",
                        F.when(F.col("o_orderkey") % 13 == 0,
                               F.col("o_totalprice") + 1.0)
                        .otherwise(F.col("o_totalprice"))
                        .alias("o_totalprice")))
    new_snap = orders.filter(F.col("o_orderkey") % 97 != 0)

    merged = incremental_agg_merge(old_snap, new_snap,
                                   row_key="o_orderkey",
                                   group_key="o_custkey",
                                   value="o_totalprice")
    return merged.select(
        "o_custkey",
        F.col("n_rows").alias("n_orders"),
        stable_round(F.col("sum_value").cast("double")).alias("revenue"))


# --------------------------------------------------------------------------
# CUBE: all 2^k grouping combinations in ONE pass over the fact table.
# Spark expands the cube AFTER partial aggregation (Expand above the
# map-side combine), so the scan cost is identical to a plain groupBy;
# only the (tiny) expanded key space shuffles.
# --------------------------------------------------------------------------
@register(
    "q20_cube_revenue",
    oracle="""
    SELECT CASE WHEN GROUPING(o_orderstatus) = 1 THEN '<all>'
                ELSE o_orderstatus END AS status,
           CASE WHEN GROUPING(o_orderpriority) = 1 THEN '<all>'
                ELSE o_orderpriority END AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {rr} AS revenue
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """.format(rr=stable_round_sql(dsum_sql("o_totalprice"))),
    doc="Multidimensional CUBE aggregation (all status x priority "
        "subtotals plus grand total) in one scan; grouping() separates "
        "rolled-up NULLs from genuine NULL keys, as in q17's rollup.",
)
def q20_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    cubed = (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"),
             dsum("o_totalprice", "revenue_d"),
             F.grouping("o_orderstatus").alias("_gs"),
             F.grouping("o_orderpriority").alias("_gp"))
    )
    return cubed.select(
        F.when(F.col("_gs") == 1, F.lit("<all>"))
         .otherwise(F.col("o_orderstatus")).alias("status"),
        F.when(F.col("_gp") == 1, F.lit("<all>"))
         .otherwise(F.col("o_orderpriority")).alias("priority"),
        "n_orders",
        stable_round(F.col("revenue_d")).alias("revenue"))


# --------------------------------------------------------------------------
# PIVOT: long -> wide reshape with a FIXED value list. Pinning the pivot
# values keeps the plan a single-pass conditional aggregation (no extra
# distinct-values job, the trap of pivot() without a value list) — at
# 100 TB the distinct scan would double the query's cost.
# --------------------------------------------------------------------------
_PIVOT_STATUSES = ("F", "O", "P")


@register(
    "q21_pivot_status_counts",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(COUNT(CASE WHEN o.o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS status_f,
           CAST(COUNT(CASE WHEN o.o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS status_o,
           CAST(COUNT(CASE WHEN o.o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS status_p
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    doc="Pivot (long->wide): order counts per market segment with one "
        "column per order status. Fixed value list => one-pass "
        "conditional aggregation over the broadcast-joined fact scan.",
)
def q21_pivot_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = orders.join(cust, orders.o_custkey == cust.c_custkey)
    wide = (joined.groupBy("c_mktsegment")
            .pivot("o_orderstatus", list(_PIVOT_STATUSES))
            .agg(F.count(F.lit(1)).cast("bigint")))
    out = wide.select(
        "c_mktsegment",
        *[F.coalesce(F.col(s), F.lit(0).cast("bigint"))
          .alias(f"status_{s.lower()}") for s in _PIVOT_STATUSES])
    return out


# --------------------------------------------------------------------------
# Set operations: INTERSECT / EXCEPT between keyed snapshots. Spark
# plans both as hash aggregations + joins on the full row; here the
# rows are single keys, so each branch is one shuffle on o_custkey.
# --------------------------------------------------------------------------
@register(
    "q22_customer_set_ops",
    oracle="""
    WITH f AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'),
         o AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O')
    SELECT o_custkey, 'both' AS membership
      FROM (SELECT o_custkey FROM f INTERSECT SELECT o_custkey FROM o)
    UNION ALL
    SELECT o_custkey, 'f_only' AS membership
      FROM (SELECT o_custkey FROM f EXCEPT SELECT o_custkey FROM o)
    UNION ALL
    SELECT o_custkey, 'o_only' AS membership
      FROM (SELECT o_custkey FROM o EXCEPT SELECT o_custkey FROM f)
    """,
    doc="Set algebra over customer key-sets: INTERSECT and EXCEPT (both "
        "directions) between customers with fulfilled ('F') vs open "
        "('O') orders, each branch labeled and unioned. Exercises "
        "Spark's intersect/exceptAll physical rewrites (agg + join).",
)
def q22_customer_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    f_keys = (orders.filter(F.col("o_orderstatus") == "F")
              .select("o_custkey").distinct())
    o_keys = (orders.filter(F.col("o_orderstatus") == "O")
              .select("o_custkey").distinct())
    both = f_keys.intersect(o_keys) \
        .withColumn("membership", F.lit("both"))
    f_only = f_keys.exceptAll(o_keys) \
        .withColumn("membership", F.lit("f_only"))
    o_only = o_keys.exceptAll(f_keys) \
        .withColumn("membership", F.lit("o_only"))
    return both.unionByName(f_only).unionByName(o_only)


# --------------------------------------------------------------------------
# EXISTS / correlated subquery (TPC-H Q4 shape): orders with at least
# one slow line (shipped >60 days after order date), counted per
# priority. The correlation (l_shipdate > o_orderdate + 60d) rides on
# a LEFT SEMI join: one shuffle on the order key, no fact-fact
# materialization, duplicate lineitem matches never multiply rows.
# --------------------------------------------------------------------------
@register(
    "q23_exists_slow_orders",
    oracle="""
    SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-01-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o.o_orderpriority
    """,
    doc="Correlated EXISTS (TPC-H Q4 shape): per-priority count of 1995 "
        "orders having a line shipped >60 days after the order date. "
        "Planned as a left-semi equi-join with a residual range "
        "predicate — the idiomatic decorrelation.",
)
def q23_exists_slow_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = (load(spark, sf_dir, "orders")
              .filter((F.col("o_orderdate") >=
                       F.lit("1995-01-01").cast("timestamp"))
                      & (F.col("o_orderdate") <
                         F.lit("1996-01-01").cast("timestamp"))))
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = ((orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate
               > orders.o_orderdate + F.expr("INTERVAL 60 DAYS")))
    slow = orders.join(li, cond, "left_semi")
    return slow.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"))


# --------------------------------------------------------------------------
# Window analytics: lag/lead, running totals and moving averages per
# customer order history. One shuffle on o_custkey serves every window
# (same partitioning); frame sums use decimal accumulators so running
# values are bit-identical on both engines under any partitioning.
# --------------------------------------------------------------------------
@register(
    "q24_window_analytics",
    oracle=f"""
    SELECT o_custkey, o_orderkey,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS seq,
           o_totalprice AS price,
           LAG(o_totalprice) OVER w AS prev_price,
           o_totalprice - LAG(o_totalprice) OVER w AS delta,
           CAST(CAST(SUM(CAST(o_totalprice AS {DEC})) OVER w
                AS VARCHAR) AS DOUBLE) AS running_rev,
           {stable_round_sql(
               f"CAST(CAST(SUM(CAST(o_totalprice AS {DEC})) OVER w3"
               " AS VARCHAR) AS DOUBLE) / CAST(COUNT(*) OVER w3 AS DOUBLE)")}
               AS avg3
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey),
           w3 AS (PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
    doc="Window-function analytics per customer order history: "
        "row_number sequence, lag, per-order delta, running revenue "
        "(unbounded preceding) and 3-order moving average. All windows "
        "share one partitioning (o_custkey) => a single shuffle; the "
        "order key (o_orderdate, o_orderkey) is a total order, so "
        "every value is deterministic.",
)
def q24_window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders") \
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w3 = w.rowsBetween(-2, Window.currentRow)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    price_dec = F.col("o_totalprice").cast(DEC)
    return orders.select(
        "o_custkey", "o_orderkey",
        F.row_number().over(w).cast("bigint").alias("seq"),
        F.col("o_totalprice").alias("price"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
        (F.col("o_totalprice") - F.lag("o_totalprice").over(w))
        .alias("delta"),
        F.sum(price_dec).over(run).cast("double").alias("running_rev"),
        stable_round(
            F.sum(price_dec).over(w3).cast("double")
            / F.count(F.lit(1)).over(w3).cast("double")).alias("avg3"))


# --------------------------------------------------------------------------
# Exact grouped percentiles. Spark's percentile() aggregates a value->
# count map per group (partial aggregation works; memory is bounded by
# per-group DISTINCT values, fine for price-like domains). For
# unbounded-cardinality columns at 100 TB the sketch path is
# approx_percentile (exercised in q16's column profiler); this query
# pins the EXACT path, which interpolates identically to DuckDB's
# quantile_cont (verified bit-exact on this data).
# --------------------------------------------------------------------------
@register(
    "q25_group_percentiles",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           quantile_cont(l_extendedprice, 0.5)  AS p50,
           quantile_cont(l_extendedprice, 0.9)  AS p90,
           quantile_cont(l_extendedprice, 0.99) AS p99
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="ORACLE-SUPPORT REFERENCE, not the production path: exact "
        "per-group percentiles via Spark's `percentile()` (median / "
        "p90 / p99 of extended price per return flag), whose value-> "
        "count buffer grows with per-group distinct values — the one "
        "memory-weak plan in the catalog at 100x. Production should "
        "use q31_scalable_percentiles (two-pass exact, spillable "
        "sort) or q33_approx_percentiles (mergeable GK sketch). Kept "
        "because its linear interpolation matches quantile_cont "
        "bit-exactly, pinning the exact semantics the other two are "
        "judged against.",
)
def q25_group_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
        F.expr("percentile(l_extendedprice, 0.9)").alias("p90"),
        F.expr("percentile(l_extendedprice, 0.99)").alias("p99"))


# --------------------------------------------------------------------------
# Correlated SCALAR subquery (orders beating 1.5x their customer's
# average), decorrelated to a window over the SAME relation — no
# second scan, no join. The threshold compare is exact: it is
# rewritten multiplicatively (price*n*2 > 3*sum) over an exact
# decimal sum, so no engine-specific division/rounding can flip a
# boundary row.
# --------------------------------------------------------------------------
@register(
    "q26_above_avg_orders",
    oracle=f"""
    WITH t AS (
      SELECT o_orderkey, o_custkey, o_totalprice,
             CAST(CAST(SUM(CAST(o_totalprice AS {DEC}))
                       OVER (PARTITION BY o_custkey) AS VARCHAR) AS DOUBLE)
               AS sum_d,
             CAST(COUNT(*) OVER (PARTITION BY o_custkey) AS BIGINT) AS n
      FROM orders
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_orderkey,
           {stable_round_sql(dsum_sql("o_totalprice"))} AS revenue
    FROM t
    WHERE o_totalprice * CAST(n AS DOUBLE) * 2.0 > 3.0 * sum_d
    """,
    doc="Correlated scalar-aggregate subquery (order price > 1.5x the "
        "customer's own average), decorrelated to one window over "
        "o_custkey — a single scan and a single shuffle instead of a "
        "self-join per correlation. Multiplicative exact-decimal "
        "threshold keeps the filter boundary engine-independent.",
)
def q26_above_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders") \
        .select("o_orderkey", "o_custkey", "o_totalprice")
    w = Window.partitionBy("o_custkey")
    t = orders.select(
        "o_orderkey", "o_totalprice",
        F.sum(F.col("o_totalprice").cast(DEC)).over(w)
        .cast("double").alias("sum_d"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n"))
    hot = t.filter(F.col("o_totalprice") * F.col("n").cast("double")
                   * F.lit(2.0) > F.lit(3.0) * F.col("sum_d"))
    return hot.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.min("o_orderkey").cast("bigint").alias("min_orderkey"),
        dsum("o_totalprice", "rev_d")).select(
        "n_orders", "min_orderkey",
        stable_round(F.col("rev_d")).alias("revenue"))


# --------------------------------------------------------------------------
# Global top-k (TPC-H Q3 shape). ORDER BY + LIMIT must plan as
# TakeOrderedAndProject: each task keeps its local top-k heap and the
# driver merges k*tasks rows — no global sort, no single-reducer
# shuffle. Ties are impossible by construction (unique o_orderkey is
# the last sort key), so the row set is engine-independent.
# --------------------------------------------------------------------------
_TOPK = 10


@register(
    "q27_topk_open_orders",
    oracle=f"""
    SELECT o.o_orderkey,
           {{rev}} AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_date
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'O'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o.o_orderkey ASC
    LIMIT {_TOPK}
    """.format(rev=stable_round_sql(
        dsum_sql("l.l_extendedprice * (1.0 - l.l_discount)"))),
    doc="Global top-k revenue among open orders (TPC-H Q3 shape): "
        "grouped revenue then ORDER BY + LIMIT planned as "
        "TakeOrderedAndProject — per-task top-k heaps merged on the "
        "driver, never a global sort. Unique trailing sort key makes "
        "the selected rows engine-independent.",
)
def q27_topk_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = (load(spark, sf_dir, "orders")
              .filter(F.col("o_orderstatus") == "O")
              .select("o_orderkey", "o_orderdate"))
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount")
    rev_expr = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    per_order = (li.join(orders,
                         li.l_orderkey == orders.o_orderkey)
                 .groupBy("o_orderkey", "o_orderdate")
                 .agg(dsum(rev_expr, "rev_d")))
    return (per_order.select(
        "o_orderkey",
        stable_round(F.col("rev_d")).alias("revenue"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(_TOPK))


# --------------------------------------------------------------------------
# Q21 shape: suppliers solely responsible for a late multi-supplier
# order — EXISTS (own late line) + NOT EXISTS (any other supplier
# late) on the same fact. Instead of two correlated semi/anti joins
# re-scanning lineitem, both predicates collapse into ONE pass:
# per-order supplier/late-supplier profiles ride a single groupBy,
# and the per-(order, supplier) late flag joins against that tiny
# profile. Late = shipped >90 days after the order date.
# --------------------------------------------------------------------------
@register(
    "q28_sole_late_supplier",
    oracle="""
    WITH lines AS (
      SELECT l.l_orderkey, l.l_suppkey,
             CAST(l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY AS INT)
               AS is_late
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    per_supp AS (
      SELECT l_orderkey, l_suppkey, MAX(is_late) AS has_late
      FROM lines GROUP BY l_orderkey, l_suppkey
    ),
    per_order AS (
      SELECT l_orderkey,
             CAST(COUNT(*) AS BIGINT) AS n_supp,
             CAST(SUM(has_late) AS BIGINT) AS n_late_supp
      FROM per_supp GROUP BY l_orderkey
    )
    SELECT s.l_suppkey AS suppkey,
           CAST(COUNT(*) AS BIGINT) AS n_solely_late_orders
    FROM per_supp s JOIN per_order o ON s.l_orderkey = o.l_orderkey
    WHERE s.has_late = 1 AND o.n_supp > 1 AND o.n_late_supp = 1
    GROUP BY s.l_suppkey
    """,
    doc="Suppliers solely responsible for a late multi-supplier order "
        "(TPC-H Q21 shape, late = shipped >90d after order date). The "
        "correlated EXISTS + NOT-EXISTS pair is rewritten as one "
        "aggregation pass: per-(order, supplier) late flags and "
        "per-order late-supplier counts share a single shuffle family "
        "on the order key — no second fact scan, no anti-join.",
)
def q28_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate")
    lines = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey", "l_suppkey",
        (F.col("l_shipdate")
         > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .cast("int").alias("is_late"))
    per_supp = lines.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("is_late").alias("has_late"))
    # per_supp feeds BOTH the per-order rollup and the final join;
    # without materialization Spark re-executes the whole join+agg
    # subtree for each consumer (4 fact scans instead of 2 — caught by
    # the plan test). One (order, supplier)-sized checkpoint buys the
    # reuse; on a cluster persist(MEMORY_AND_DISK) plays this role.
    per_supp = per_supp.localCheckpoint(eager=True)  # rollup +
    # final join race in one job (r09 A/B 1.92 -> 1.72 s eager)
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_supp"),
        F.sum("has_late").cast("bigint").alias("n_late_supp"))
    sole = (per_supp.join(per_order, "l_orderkey")
            .filter((F.col("has_late") == 1) & (F.col("n_supp") > 1)
                    & (F.col("n_late_supp") == 1)))
    return sole.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_solely_late_orders"))


# --------------------------------------------------------------------------
# Referential-integrity audit: orphan counts across every FK edge of
# the star schema in one result. Each edge is a left-anti join whose
# build side is the (smaller) referenced key set; the per-edge counts
# union into a tiny audit table. The data-quality primitive a 100 TB
# lakehouse runs after every load.
# --------------------------------------------------------------------------
_FK_EDGES = (
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
     "orders", "o_orderkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey",
     "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey",
     "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey",
     "region", "r_regionkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey",
     "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
     "supplier", "s_suppkey"),
)


@register(
    "q30_fk_orphan_audit",
    oracle="\nUNION ALL\n".join(
        f"""SELECT '{name}' AS fk_edge,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(CASE WHEN r.{rkey} IS NULL THEN 1 END) AS BIGINT)
                 AS n_orphans
            FROM {child} c LEFT JOIN {ref} r ON c.{ckey} = r.{rkey}"""
        for name, child, ckey, ref, rkey in _FK_EDGES),
    doc="Referential-integrity audit: row and orphan counts for every "
        "FK edge of the star schema in one result. Each edge probes "
        "the referenced key set (broadcast for dims); at 100 TB the "
        "fact-to-fact edges run as shuffle joins with AQE and the "
        "output stays six rows regardless of input size.",
)
def q30_fk_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for name, child, ckey, ref, rkey in _FK_EDGES:
        c = load(spark, sf_dir, child).select(ckey)
        r = load(spark, sf_dir, ref).select(rkey).distinct()
        joined = c.join(r, c[ckey] == r[rkey], "left")
        audit = joined.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.count(F.when(F.col(rkey).isNull(), 1)).cast("bigint")
            .alias("n_orphans")).select(
            F.lit(name).alias("fk_edge"), "n_rows", "n_orphans")
        out = audit if out is None else out.unionByName(audit)
    return out


# --------------------------------------------------------------------------
# Scale-safe EXACT percentiles: q25's `percentile()` buffers every value
# of a group in executor memory (OpenHashMap of ArrayBuffers — no spill),
# which OOMs at 100 TB group sizes. This companion computes the same
# nearest-rank percentiles as count + ordered rank selection: the sort
# runs in Tungsten's external (spilling) sort and the window buffer is a
# spillable UnsafeRow array, so memory stays bounded at any group size.
# The oracle is the identical rank-selection SQL, so both engines share
# one discrete-percentile convention (value at rank ceil(p*n)).
# --------------------------------------------------------------------------
@register(
    "q31_scalable_percentiles",
    oracle="""
    WITH c AS (
      SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n
      FROM lineitem GROUP BY l_returnflag
    ), r AS (
      SELECT l_returnflag, l_extendedprice,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY l_extendedprice) AS rn
      FROM lineitem
    )
    SELECT r.l_returnflag, c.n,
           MAX(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT)
                    THEN l_extendedprice END) AS p50,
           MAX(CASE WHEN rn = CAST(CEIL(0.9 * n) AS BIGINT)
                    THEN l_extendedprice END) AS p90,
           MAX(CASE WHEN rn = CAST(CEIL(0.99 * n) AS BIGINT)
                    THEN l_extendedprice END) AS p99
    FROM r JOIN c ON r.l_returnflag = c.l_returnflag
    GROUP BY r.l_returnflag, c.n
    """,
    doc="Two-pass exact nearest-rank percentiles (p50/p90/p99 per return "
        "flag): tiny count aggregate broadcast back, row_number rank "
        "selection over a spillable sort — the 100-TB-safe twin of "
        "q25_group_percentiles (whose exact `percentile()` buffers "
        "whole groups in memory).",
)
def q31_scalable_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice")
    counts = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"))
    w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    ranked = li.withColumn("rn", F.row_number().over(w))
    j = ranked.join(F.broadcast(counts), "l_returnflag")

    def pick(p: float, alias: str):
        target = F.ceil(F.lit(p) * F.col("n")).cast("bigint")
        return F.max(F.when(F.col("rn") == target,
                            F.col("l_extendedprice"))).alias(alias)

    return j.groupBy("l_returnflag", "n").agg(
        pick(0.5, "p50"), pick(0.9, "p90"), pick(0.99, "p99"))


@register(
    "q32_grouping_sets",
    oracle="""
    SELECT CASE WHEN GROUPING(o_orderstatus) = 1 THEN '<any>'
                ELSE o_orderstatus END AS status,
           CASE WHEN GROUPING(o_orderpriority) = 1 THEN '<any>'
                ELSE o_orderpriority END AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {rr} AS revenue
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), (o_orderpriority))
    """.format(rr=stable_round_sql(dsum_sql("o_totalprice"))),
    doc="Explicit GROUPING SETS (the general form under ROLLUP/CUBE): "
        "three chosen aggregation granularities in ONE Expand + hash "
        "aggregate pass over a single scan — no UNION of three "
        "separate groupBys, no triple read. Rolled-up slots rendered "
        "'<any>' via grouping() on both engines.",
)
def q32_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    g = o.groupingSets(
        [["o_orderstatus", "o_orderpriority"],
         ["o_orderstatus"], ["o_orderpriority"]],
        "o_orderstatus", "o_orderpriority",
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"),
          dsum("o_totalprice").alias("revenue_d"),
          F.grouping("o_orderstatus").alias("_gs"),
          F.grouping("o_orderpriority").alias("_gp"))
    return g.select(
        F.when(F.col("_gs") == 1, F.lit("<any>"))
         .otherwise(F.col("o_orderstatus")).alias("status"),
        F.when(F.col("_gp") == 1, F.lit("<any>"))
         .otherwise(F.col("o_orderpriority")).alias("priority"),
        "n_orders",
        stable_round(F.col("revenue_d").cast("double")).alias("revenue"))


_Q33_ACC = 10000  # GK accuracy parameter: rank error <= 1/acc


@register(
    "q33_approx_percentiles",
    # The GK sketch's VALUES are implementation-defined (DuckDB cannot
    # reproduce them), but its rank-error GUARANTEE is checkable: the
    # Spark side computes each approx value's exact rank span and
    # emits an integer within_bound flag; the oracle asserts the
    # guarantee holds — every (flag, quantile) row flagged 1 — plus
    # the group sizes, so a sketch regression breaks the hash.
    oracle="""
    SELECT l_returnflag, q_label,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(1 AS INT) AS within_bound
    FROM lineitem
    CROSS JOIN (VALUES ('p50'), ('p90'), ('p99')) v(q_label)
    GROUP BY l_returnflag, q_label
    """,
    doc="The 100-TB percentile path: approx_percentile (Spark's "
        "built-in Greenwald-Khanna-style mergeable quantile sketch, "
        "accuracy 10000 => rank error <= 1e-4) per return flag — "
        "O(sketch) executor state and map-side merge where q25's exact "
        "percentile buffers whole groups and q31 pays a full sort. "
        "Output is the DRIVER-CHECKABLE form of the sketch contract: "
        "per (flag, quantile), whether the approx value's exact rank "
        "span intersects [(q-eps)n, (q+eps)n] (one extra broadcast-"
        "probe pass computes the rank span); the oracle pins every "
        "flag at within_bound=1. Production reads the values "
        "themselves from this same sketch (q16 profiles with it); "
        "exact values live in q31.",
)
def q33_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice")
    eps = 1.0 / _Q33_ACC
    qs = [(0.5, "p50"), (0.9, "p90"), (0.99, "p99")]
    ap = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.percentile_approx(
            "l_extendedprice", [q for q, _ in qs], _Q33_ACC).alias("pa"))
    # Exact rank span of each returned value: one more corpus pass
    # against the broadcast (|flags| rows) sketch output. rank_low =
    # #values strictly below, rank_high = #values <= — the value's
    # tied-rank interval is (rank_low, rank_high].
    probe = li.join(F.broadcast(ap), "l_returnflag")
    spans = probe.groupBy("l_returnflag").agg(
        F.first("n").alias("n"),
        *[agg for i in range(len(qs)) for agg in (
            F.sum((F.col("l_extendedprice") < F.col("pa")[i])
                  .cast("long")).alias(f"lo{i}"),
            F.sum((F.col("l_extendedprice") <= F.col("pa")[i])
                  .cast("long")).alias(f"hi{i}"))])
    # The guarantee is on INTEGER ranks: the returned element's rank
    # span must intersect [floor((q-eps)n), ceil((q+eps)n)].
    nn = F.col("n").cast("double")
    checks = [
        F.struct(
            F.lit(lbl).alias("q_label"),
            ((F.col(f"lo{i}") + 1 <= F.ceil((q + eps) * nn))
             & (F.col(f"hi{i}") >= F.floor((q - eps) * nn)))
            .cast("int").alias("within_bound"))
        for i, (q, lbl) in enumerate(qs)]
    return (spans.select("l_returnflag", "n",
                         F.explode(F.array(*checks)).alias("c"))
            .select("l_returnflag", F.col("c.q_label").alias("q_label"),
                    "n", F.col("c.within_bound").alias("within_bound")))


@register(
    "q34_bucketed_join_roundtrip",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {rr} AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """.format(rr=stable_round_sql(dsum_sql("o.o_totalprice"))),
    doc="Bucketed co-located join through the sink: orders and customer "
        "are written bucketed by custkey (16 buckets, sorted), read "
        "back from the catalog, and joined under a merge hint — the "
        "join must carry ZERO exchanges (asserted by a plan test), "
        "which is THE 100-TB pattern for a fact table "
        "joined repeatedly on one key. The oracle computes the same "
        "aggregation straight from the source, so the bucketed write/"
        "read round trip is value-checked too.",
)
def q34_bucketed_join_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mousedatapipeline_spark.sources.sinks import write_bucketed

    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation")
    with scratch.workdir("mouse_bt_q34_") as base:
        try:
            write_bucketed(o, "q34_orders_b", ["o_custkey"], 16,
                           sort_cols=["o_custkey"], path=f"{base}/orders")
            write_bucketed(c, "q34_customer_b", ["c_custkey"], 16,
                           sort_cols=["c_custkey"], path=f"{base}/customer")
            # The merge hint keeps the co-located sort-merge join at any
            # session broadcast threshold.
            j = (spark.table("q34_orders_b").hint("merge")
                 .join(spark.table("q34_customer_b"),
                       F.col("o_custkey") == F.col("c_custkey")))
            return scratch.keep(
                j.join(F.broadcast(n),
                       F.col("c_nationkey") == F.col("n_nationkey"))
                .groupBy(F.col("n_name").alias("nation"))
                .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                     stable_round(dsum("o_totalprice")).alias("revenue")))
        finally:
            spark.sql("DROP TABLE IF EXISTS q34_orders_b")
            spark.sql("DROP TABLE IF EXISTS q34_customer_b")


@register(
    "q35_scd2_intervals",
    oracle="""
    SELECT user_id,
           event_type,
           CAST(epoch_us(ts) AS BIGINT) AS valid_from_us,
           CAST(epoch_us(LEAD(ts) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id))
                AS BIGINT) AS valid_to_us,
           CAST(epoch_us(LEAD(ts) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id))
                - epoch_us(ts) AS BIGINT) AS duration_us
    FROM events
    """,
    doc="SCD-2 interval construction: each per-user observation opens a "
        "validity interval closed by the next one (lead window, "
        "event_id tie-break), the open interval NULL-terminated — the "
        "slowly-changing-dimension build every warehouse load runs. "
        "One user-keyed shuffle; intervals derive row-locally from the "
        "sorted partition.",
)
def q35_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id",
        F.unix_micros("ts").alias("ts_us"))
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    nxt = F.lead("ts_us").over(w)
    return ev.select(
        "user_id", "event_type",
        F.col("ts_us").cast("bigint").alias("valid_from_us"),
        nxt.cast("bigint").alias("valid_to_us"),
        (nxt - F.col("ts_us")).cast("bigint").alias("duration_us"))


@register(
    "q36_unpivot_metrics",
    oracle=f"""
    WITH long AS (
      SELECT l_returnflag, 'quantity' AS metric, l_quantity AS v
      FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'extendedprice', l_extendedprice FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'discount', l_discount FROM lineitem
    )
    SELECT l_returnflag, metric,
           CAST(COUNT(*) AS BIGINT) AS n,
           {stable_round_sql(dsum_sql("v"))} AS total
    FROM long GROUP BY l_returnflag, metric
    """,
    doc="UNPIVOT (wide->long melt, the inverse of q21's pivot): three "
        "metric columns stacked into (metric, value) rows via Spark's "
        "native unpivot — one Expand over one scan, never three "
        "self-UNIONed reads (the oracle spells the UNION because "
        "DuckDB reads are free at this size; Spark's plan is the "
        "single-scan form) — then a grouped decimal-exact rollup.",
)
def q36_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").alias("quantity"),
        F.col("l_extendedprice").alias("extendedprice"),
        F.col("l_discount").alias("discount"))
    long = li.unpivot(
        ["l_returnflag"], ["quantity", "extendedprice", "discount"],
        "metric", "v")
    return long.groupBy("l_returnflag", "metric").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        stable_round(dsum("v")).alias("total"))


@register(
    "q37_distribution_ranks",
    oracle=f"""
    SELECT o_orderkey, o_orderpriority,
           CAST(NTILE(4) OVER w AS INT) AS quartile,
           {stable_round_sql('PERCENT_RANK() OVER w')} AS pct_rank,
           {stable_round_sql('CUME_DIST() OVER w')} AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
    """,
    doc="Distribution window functions (the q24 set completed): ntile "
        "quartiles, percent_rank and cume_dist per order priority, "
        "tie-broken on the key so every rank is engine-deterministic. "
        "One shuffle on the partition key.",
)
def q37_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey", "o_orderpriority",
        F.ntile(4).over(w).cast("int").alias("quartile"),
        stable_round(F.percent_rank().over(w)).alias("pct_rank"),
        stable_round(F.cume_dist().over(w)).alias("cume"))


@register(
    "q38_constraint_audit",
    oracle="""
    SELECT 'customer_pk_unique' AS constraint_name,
           CAST(COUNT(*) - COUNT(DISTINCT c_custkey) AS BIGINT)
             AS n_violations
    FROM customer
    UNION ALL
    SELECT 'orders_custkey_fk',
           CAST(COUNT(*) AS BIGINT)
    FROM orders o WHERE NOT EXISTS
      (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'lineitem_quantity_range',
           CAST(COUNT(CASE WHEN l_quantity <= 0 OR l_quantity > 100
                           THEN 1 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'events_value_nonnegative',
           CAST(COUNT(CASE WHEN value < 0 THEN 1 END) AS BIGINT)
    FROM events
    UNION ALL
    SELECT 'documents_nchars_consistent',
           CAST(COUNT(CASE WHEN n_chars <> length(text) THEN 1 END)
                AS BIGINT)
    FROM documents
    """,
    doc="Declarative data-quality audit (the dbt-test shape): primary-"
        "key uniqueness, referential integrity (anti-join), range "
        "bounds, non-negativity and cross-column consistency evaluated "
        "in one submitted plan — each constraint one aggregate over "
        "its own pruned scan, the FK check a broadcast anti-join, "
        "results unioned into a (constraint, violations) report. "
        "Violation counts (not booleans) so a failing load quantifies "
        "its damage.",
)
def q38_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    ev = load(spark, sf_dir, "events")
    docs = load(spark, sf_dir, "documents")

    def row(name: str, agg: DataFrame) -> DataFrame:
        return agg.select(F.lit(name).alias("constraint_name"),
                          F.col("n").cast("bigint")
                          .alias("n_violations"))

    pk = row("customer_pk_unique", cust.agg(
        (F.count(F.lit(1)) - F.countDistinct("c_custkey")).alias("n")))
    fk = row("orders_custkey_fk", orders.join(
        cust.select("c_custkey"),
        orders.o_custkey == cust.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n")))
    rng = row("lineitem_quantity_range", li.agg(F.count(
        F.when((F.col("l_quantity") <= 0)
               | (F.col("l_quantity") > 100), 1)).alias("n")))
    nonneg = row("events_value_nonnegative", ev.agg(F.count(
        F.when(F.col("value") < 0, 1)).alias("n")))
    cons = row("documents_nchars_consistent", docs.agg(F.count(
        F.when(F.col("n_chars") != F.length("text"), 1)).alias("n")))
    return pk.unionByName(fk).unionByName(rng) \
        .unionByName(nonneg).unionByName(cons)


@register(
    "q39_partition_backfill",
    oracle=f"""
    WITH base AS (
      SELECT o_orderpriority AS prio,
             CASE WHEN o_orderpriority = '1-URGENT'
                  THEN -o_totalprice ELSE o_totalprice END AS amt
      FROM orders
    )
    SELECT prio,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {dsum_sql("amt")} AS amt_sum
    FROM base GROUP BY prio
    """,
    doc="Idempotent partition backfill via dynamic partition overwrite: "
        "orders land partitioned by priority; ONE partition "
        "('1-URGENT') is then reprocessed (amounts negated) and "
        "rewritten with partitionOverwriteMode=dynamic — only the "
        "touched partition may change. The read-back rollup must equal "
        "the oracle's view of 'original everywhere except the "
        "backfilled slice': an overwrite that clobbered sibling "
        "partitions (the static-mode default!) or duplicated the "
        "slice hash-fails. The backfill write moves one partition's "
        "data; sibling partitions are never read or rewritten.",
)
def q39_partition_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mousedatapipeline_spark.sources.sinks import upsert_partitions

    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"),
        F.col("o_totalprice").alias("amt"))
    with scratch.workdir("mouse_q39_") as work:
        out = str(work)
        (o.write.mode("overwrite").partitionBy("prio").parquet(out))
        backfill = (spark.read.parquet(out)
                    .filter(F.col("prio") == "1-URGENT")
                    .withColumn("amt", -F.col("amt")))
        upsert_partitions(backfill, out, ["prio"])
        back = spark.read.parquet(out)
        return scratch.keep(back.groupBy("prio").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            dsum("amt").alias("amt_sum")))


@register(
    "q40_point_in_time_lookup",
    oracle="""
    WITH iv AS (
      SELECT user_id, event_type,
             epoch_us(ts) AS valid_from_us,
             epoch_us(LEAD(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id))
               AS valid_to_us
      FROM events
    ),
    t AS (SELECT CAST(FLOOR(quantile_cont(epoch_us(ts), 0.5)) AS BIGINT)
            AS t0 FROM events)
    SELECT user_id,
           event_type AS state_at_t0,
           CAST(valid_from_us AS BIGINT) AS valid_from_us
    FROM iv, t
    WHERE valid_from_us <= t0
      AND (valid_to_us IS NULL OR valid_to_us > t0)
    """,
    doc="Point-in-time (time-travel) lookup over the q35 SCD-2 "
        "intervals: each user's state AS OF the corpus-median "
        "timestamp — the interval containing t0 (open interval = "
        "current state). The PIT predicate is a scan-stage filter "
        "over the interval table; t0 is a 1-row scalar broadcast. "
        "This is the read side every SCD-2 build (q35) exists to "
        "serve, and the batch twin of an as-of join at a fixed "
        "timestamp.",
)
def q40_point_in_time_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id",
        F.unix_micros("ts").alias("ts_us"))
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    iv = ev.select(
        "user_id", "event_type",
        F.col("ts_us").alias("valid_from_us"),
        F.lead("ts_us").over(w).alias("valid_to_us"))
    # FLOOR on both sides: Spark's double->bigint cast truncates while
    # DuckDB's rounds half-to-even — a fractional interpolated median
    # would otherwise pick different anchor instants.
    t0 = ev.agg(F.floor(F.percentile("ts_us", 0.5)).cast("bigint")
                .alias("t0"))
    return (iv.join(F.broadcast(t0))
            .filter((F.col("valid_from_us") <= F.col("t0"))
                    & (F.col("valid_to_us").isNull()
                       | (F.col("valid_to_us") > F.col("t0"))))
            .select("user_id",
                    F.col("event_type").alias("state_at_t0"),
                    F.col("valid_from_us").cast("bigint")
                    .alias("valid_from_us")))


# --------------------------------------------------------------------------
# q41: grouped closed-form least squares — trend fitting as a pure
# aggregation, no ML library, no iteration: the five moments (n, Sx,
# Sy, Sxy, Sxx[, Syy]) are exact decimal sums (order-independent), and
# slope/intercept/r2 are derived from them with identical double
# arithmetic in both engines. The 100-TB shape of regression: one
# map-side-combinable aggregate, O(|groups|) state, zero extra passes.
# --------------------------------------------------------------------------
@register(
    "q41_grouped_linear_fit",
    oracle=f"""
    WITH mo AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sy,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))
                           * CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sxy,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))
                           * CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                           * CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS syy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           {stable_round_sql(
               '(CAST(n AS DOUBLE) * sxy - sx * sy)'
               ' / (CAST(n AS DOUBLE) * sxx - sx * sx)')} AS slope,
           {stable_round_sql(
               '(sy - (CAST(n AS DOUBLE) * sxy - sx * sy)'
               ' / (CAST(n AS DOUBLE) * sxx - sx * sx) * sx)'
               ' / CAST(n AS DOUBLE)')} AS intercept,
           {stable_round_sql(
               '((CAST(n AS DOUBLE) * sxy - sx * sy)'
               ' * (CAST(n AS DOUBLE) * sxy - sx * sy))'
               ' / ((CAST(n AS DOUBLE) * sxx - sx * sx)'
               ' * (CAST(n AS DOUBLE) * syy - sy * sy))')} AS r2
    FROM mo
    """,
    doc="Grouped least-squares trend fit (extended price vs quantity "
        "per return flag): slope, intercept, and r2 from the five "
        "exact-decimal moments of one aggregation pass — regression "
        "as a map-side-combinable aggregate with O(|groups|) state. "
        "Narrow decimals (12,2)/(18,2) keep every product inside "
        "38-digit precision, so the moments are exact and the "
        "double-side derivation is bit-identical across engines.",
)
def q41_grouped_linear_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("decimal(12,2)").alias("x"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("y"))
    mo = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"))
    nn = F.col("n").cast("double")
    num = nn * F.col("sxy") - F.col("sx") * F.col("sy")
    den = nn * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num / den
    return mo.select(
        "l_returnflag", "n",
        stable_round(slope).alias("slope"),
        stable_round((F.col("sy") - slope * F.col("sx")) / nn)
        .alias("intercept"),
        stable_round((num * num)
                     / (den * (nn * F.col("syy")
                               - F.col("sy") * F.col("sy")))).alias("r2"))


@register(
    "q42_orc_partitioned_roundtrip",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {rev} AS revenue
    FROM orders WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """.format(rev=stable_round_sql(dsum_sql("o_totalprice"))),
    doc="Source/sink format breadth: orders written as "
        "zstd-compressed ORC partitioned by o_orderstatus, read back "
        "through the ORC source with a partition filter, and "
        "aggregated — the answer must equal the same aggregation on "
        "the original parquet (the oracle's side). The status "
        "predicate prunes to one partition directory at the source "
        "(same partition-pruning contract q39 plan-tests for "
        "parquet); columnar pushdown and the decimal revenue math "
        "are format-independent by construction.",
)
def q42_orc_partitioned_roundtrip(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
    with scratch.workdir("mouse_orc_") as work:
        out = f"{work}/orders_orc"
        (orders.write.mode("overwrite")
         .option("compression", "zstd")
         .partitionBy("o_orderstatus")
         .orc(out))
        back = spark.read.orc(out).filter(F.col("o_orderstatus") == "F")
        return scratch.keep(back.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            stable_round(dsum("o_totalprice")).alias("revenue")))


@register(
    "q43_schema_evolution_merge",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(CASE WHEN o_orderkey % 2 = 1
                           THEN o_orderpriority END) AS BIGINT)
             AS n_with_priority,
           MIN(CASE WHEN o_orderkey % 2 = 1
                    THEN o_orderpriority END) AS min_priority
    FROM orders
    GROUP BY o_orderstatus
    """,
    doc="Schema evolution: a v1 batch (no priority column) and a v2 "
        "batch (priority added) land in one dataset; the read uses "
        "mergeSchema so v1 rows surface the new column as NULL — the "
        "contract every long-lived ingest dataset needs when columns "
        "are added mid-stream. The aggregation counts rows and "
        "non-null priorities (v2 rows only — v1's evolved column is "
        "NULL) and takes the min v2 priority as a value probe; the "
        "oracle derives all three from the original table (v1 = even "
        "orderkeys, priority nulled by construction). Footer merging "
        "is a planning-time cost; the scan stays columnar.",
)
def q43_schema_evolution_merge(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority")
    v1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus")          # priority not yet added
    v2 = orders.filter(F.col("o_orderkey") % 2 == 1)
    with scratch.workdir("mouse_evo_") as work:
        out = f"{work}/orders_evo"
        v1.write.mode("overwrite").parquet(out + "/batch=v1")
        v2.write.mode("overwrite").parquet(out + "/batch=v2")
        back = spark.read.option("mergeSchema", "true").parquet(out)
        return scratch.keep(back.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.count("o_orderpriority").cast("bigint")
            .alias("n_with_priority"),
            F.min("o_orderpriority").alias("min_priority")))


# --------------------------------------------------------------------------
# q44: iterative ML as pure dataflow — two unrolled full-batch
# gradient-descent steps of logistic regression, each step ONE
# aggregation pass (5 decimal gradient sums + count) with the weight
# vector broadcast back as a 1-row table. The shape that trains
# quality classifiers (t17 consumes one) directly inside the engine:
# per-step cost is a scan + map-side-combinable sums, state is
# O(features), rounds unroll exactly like s10's k-means. Parity:
# step 1's predictions are the constant 0.5 (w=0), so its gradient is
# exact decimal arithmetic; step 2's sigmoid goes through libm exp,
# whose <=1-ulp engine drift vanishes in the per-term decimal
# cast (t14's transcendental-parity pattern); the accuracy threshold
# compares the raw dot product against 0 — sigmoid(d) >= 0.5 iff
# d >= 0 — an exact comparison.
# --------------------------------------------------------------------------
_Q44_D = 4  # embedding dims used as features (plus intercept x0)
_Q44_JS = range(_Q44_D + 1)


def _q44_sql() -> str:
    cols = ", ".join(
        ["1.0 AS x0"] + [f"CAST(embedding[{j}] AS DOUBLE) AS x{j}"
                         for j in range(1, _Q44_D + 1)])
    g1 = ", ".join(
        dsum_sql(f"(0.5 - y) * x{j}")
        + f" / CAST(COUNT(*) AS DOUBLE) AS g{j}" for j in _Q44_JS)
    w1 = ", ".join(f"-g{j} AS w{j}" for j in _Q44_JS)
    dot = " + ".join(f"w.w{j} * x.x{j}" for j in _Q44_JS)
    g2 = ", ".join(
        dsum_sql(f"(p - y) * x{j}")
        + f" / CAST(COUNT(*) AS DOUBLE) AS g{j}" for j in _Q44_JS)
    w2 = ", ".join(f"w1.w{j} - g2.g{j} AS w{j}" for j in _Q44_JS)
    xs = ", ".join(f"x.x{j}" for j in _Q44_JS)
    wr = ", ".join(stable_round_sql(f"w.w{j}") + f" AS w{j}"
                   for j in _Q44_JS)
    wg = ", ".join(f"w.w{j}" for j in _Q44_JS)
    return f"""
    WITH X AS (
      SELECT CAST(CASE WHEN label >= 5 THEN 1 ELSE 0 END AS DOUBLE) AS y,
             {cols}
      FROM embeddings
    ),
    G1 AS (SELECT {g1} FROM X),
    W1 AS (SELECT {w1} FROM G1),
    P AS (
      SELECT x.y, {xs}, 1.0 / (1.0 + EXP(-({dot}))) AS p
      FROM X x, W1 w
    ),
    G2 AS (SELECT {g2} FROM P),
    W2 AS (SELECT {w2} FROM W1 w1, G2 g2),
    SCORED AS (SELECT x.y, ({dot}) AS d FROM X x, W2 w)
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN (d >= 0) = (y = 1.0) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           {wr}
    FROM SCORED, W2 w
    GROUP BY {wg}
    """


@register(
    "q44_logistic_regression_steps",
    oracle=_q44_sql(),
    doc="Logistic regression trained IN the engine: two unrolled "
        "full-batch gradient steps over 4 embedding dims + intercept "
        "(labels binarized at >= 5), each step one scan with 5 "
        "map-side-combinable decimal gradient sums and the weight "
        "vector broadcast back as a 1-row table — the k-means/PageRank "
        "iteration shape applied to a classifier (what trains t17's "
        "quality model without leaving Spark). Output: training-set "
        "accuracy of the 2-step model (threshold on the raw dot, an "
        "exact comparison) and the rounded weights.",
)
def q44_logistic_regression_steps(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    X = e.select(
        (F.col("label") >= 5).cast("int").cast("double").alias("y"),
        F.lit(1.0).alias("x0"),
        *[F.col("embedding").getItem(j - 1).cast("double")
          .alias(f"x{j}") for j in range(1, _Q44_D + 1)]
    ).localCheckpoint(eager=False)  # three passes (g1, g2, scoring)
    # — SEQUENTIAL agg jobs, so lazy piggybacks materialization on g1
    # instead of paying a separate pass (r09 A/B: eager cost 0.92 ->
    # 1.12 s, the sweep's clearest keep-lazy case)

    def grads(df, resid):
        n = F.count(F.lit(1))
        return df.agg(*[
            (dsum(resid * F.col(f"x{j}")) / n.cast("double"))
            .alias(f"g{j}") for j in _Q44_JS])

    w1 = grads(X, F.lit(0.5) - F.col("y")).select(
        *[(-F.col(f"g{j}")).alias(f"w{j}") for j in _Q44_JS])

    def dot(prefix="w"):
        out = None
        for j in _Q44_JS:
            term = F.col(f"{prefix}{j}") * F.col(f"x{j}")
            out = term if out is None else out + term
        return out

    p = (X.join(F.broadcast(w1))
         .withColumn("p", 1.0 / (1.0 + F.exp(-dot()))))
    g2 = grads(p, F.col("p") - F.col("y"))
    w2 = (w1.join(F.broadcast(g2))
          .select(*[(F.col(f"w{j}") - F.col(f"g{j}")).alias(f"w{j}")
                    for j in _Q44_JS]))
    scored = (X.join(F.broadcast(w2))
              .withColumn("d", dot()))
    return (scored
            .groupBy(*[F.col(f"w{j}") for j in _Q44_JS])
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                 F.sum(((F.col("d") >= 0) == (F.col("y") == 1.0))
                       .cast("int")).cast("bigint").alias("n_correct"))
            .select("n", "n_correct",
                    *[stable_round(F.col(f"w{j}")).alias(f"w{j}")
                      for j in _Q44_JS]))


@register(
    "q45_delta_join_maintenance",
    oracle=_REGISTRY["q34_bucketed_join_roundtrip"].oracle,
    doc="Incremental JOIN maintenance (the join half of q19's IVM "
        "story): the orders-customer-nation join is materialized for "
        "the base 90% of orders, then a 10% delta arrives and only "
        "DELTA JOIN dim is computed and unioned on — the "
        "delta-join algebra (d(A JOIN B) = dA JOIN B for an "
        "insert-only fact against static dims) that makes refresh "
        "cost proportional to the delta, never the base. The final "
        "rollup over base+delta must equal the full recompute (the "
        "oracle's side); decimal revenue sums make the union "
        "order-independent.",
)
def q45_delta_join_maintenance(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice")
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey")
    nation = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name")
    dims = cust.join(F.broadcast(nation),
                     cust.c_nationkey == nation.n_nationkey).select(
        "c_custkey", "n_name")

    def joined(fact):
        return fact.join(dims, fact.o_custkey == dims.c_custkey).select(
            "n_name", "o_totalprice")

    # Base materialization (90% of orders)...
    base = joined(orders.filter(F.col("o_orderkey") % 10 != 0)) \
        .localCheckpoint(eager=False)  # "materialized view" stand-in
    # (SINGLE consumer — the union reads it once; the checkpoint marks
    # the maintenance boundary, not a reuse point; r09 A/B tie)
    # ...then the delta arrives: ONLY the delta joins the dims.
    delta = joined(orders.filter(F.col("o_orderkey") % 10 == 0))
    maintained = base.union(delta)
    return maintained.groupBy(F.col("n_name").alias("nation")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        stable_round(dsum("o_totalprice")).alias("revenue"))


_Q46_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
         AS sum_qty,
       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
FROM lineitem
WHERE l_shipdate >= DATE '1994-01-01'
GROUP BY l_returnflag, l_linestatus
"""


@register(
    "q46_sql_frontdoor",
    # The SAME ANSI text runs on both engines: the query IS the oracle.
    oracle=_Q46_SQL,
    doc="The raw SQL front door: users who keep their ANSI SQL run it "
        "unchanged through spark.sql over registered temp views — the "
        "identical statement is the DuckDB oracle, so this query pins "
        "the engine-portability contract (exact-decimal quantity sums "
        "keep the only float column bit-stable). Catalyst plans the "
        "SQL text into the same pushed-filter, partial-aggregated "
        "physical plan the DataFrame API gets.",
)
def q46_sql_frontdoor(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    try:  # the analyzed frame holds the view's plan, not its name
        return spark.sql(_Q46_SQL)
    finally:
        spark.catalog.dropTempView("lineitem")


@register(
    "q47_merge_upsert",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 10 <> 0
    ),
    chg AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 10 = 0 THEN 'I'
                  WHEN o_orderkey % 10 = 1 THEN 'D'
                  ELSE 'U' END AS op,
             o_orderstatus AS c_status,
             CASE WHEN o_orderkey % 10 = 2
                  THEN o_totalprice + 100.0
                  ELSE o_totalprice END AS c_price
      FROM orders WHERE o_orderkey % 10 IN (0, 1, 2)
    ),
    merged AS (
      SELECT COALESCE(b.o_orderkey, c.o_orderkey) AS o_orderkey,
             CASE WHEN c.op IN ('U', 'I') THEN c.c_status
                  ELSE b.o_orderstatus END AS o_orderstatus,
             CASE WHEN c.op IN ('U', 'I') THEN c.c_price
                  ELSE b.o_totalprice END AS o_totalprice,
             c.op AS op,
             (b.o_orderkey IS NOT NULL) AS matched
      FROM base b FULL JOIN chg c ON b.o_orderkey = c.o_orderkey
      WHERE NOT COALESCE(c.op = 'D', FALSE)
        AND (b.o_orderkey IS NOT NULL OR c.op = 'I')
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN op = 'U' AND matched
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
           CAST(SUM(CASE WHEN op = 'I' AND NOT matched
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
           {stable_round_sql(dsum_sql("o_totalprice"))} AS revenue
    FROM merged GROUP BY o_orderstatus
    """,
    doc="MERGE INTO (upsert with deletes), the lakehouse CDC staple: a "
        "deterministic change feed (10% inserts / 10% deletes / 10% "
        "price updates, keyed on o_orderkey % 10) applies to the "
        "remaining 90% base with full MERGE semantics — matched+D "
        "deletes, matched+U updates, unmatched+I inserts, unmatched "
        "U/D are no-ops. The physical plan is the canonical single "
        "FULL OUTER hash join on the merge key (one shuffle, the same "
        "shape Delta/Iceberg MERGE compiles to), then a per-status "
        "rollup with decimal-exact revenue. The +100.0 price bump is "
        "IEEE-exact in both engines.",
)
def q47_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice")
    base = o.filter(F.col("o_orderkey") % 10 != 0)
    chg = (
        o.filter((F.col("o_orderkey") % 10).isin(0, 1, 2))
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 10 == 0, "I")
            .when(F.col("o_orderkey") % 10 == 1, "D")
            .otherwise("U").alias("op"),
            F.col("o_orderstatus").alias("c_status"),
            F.when(F.col("o_orderkey") % 10 == 2,
                   F.col("o_totalprice") + 100.0)
            .otherwise(F.col("o_totalprice")).alias("c_price")))
    b = base.alias("b")
    c = chg.alias("c")
    upsert = F.col("c.op").isin("U", "I")
    merged = (
        b.join(c, F.col("b.o_orderkey") == F.col("c.o_orderkey"),
               "full_outer")
        .where(~F.coalesce(F.col("c.op") == "D", F.lit(False))
               & (F.col("b.o_orderkey").isNotNull()
                  | (F.col("c.op") == "I")))
        .select(
            F.coalesce(F.col("b.o_orderkey"), F.col("c.o_orderkey"))
            .alias("o_orderkey"),
            F.when(upsert, F.col("c.c_status"))
            .otherwise(F.col("b.o_orderstatus")).alias("o_orderstatus"),
            F.when(upsert, F.col("c.c_price"))
            .otherwise(F.col("b.o_totalprice")).alias("o_totalprice"),
            F.col("c.op").alias("op"),
            F.col("b.o_orderkey").isNotNull().alias("matched")))
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(((F.col("op") == "U") & F.col("matched")).cast("int"))
        .cast("bigint").alias("n_updated"),
        F.sum(((F.col("op") == "I") & ~F.col("matched")).cast("int"))
        .cast("bigint").alias("n_inserted"),
        F.min("o_orderkey").cast("bigint").alias("min_key"),
        F.max("o_orderkey").cast("bigint").alias("max_key"),
        stable_round(dsum("o_totalprice")).alias("revenue"))


# --------------------------------------------------------------------------
# q48: data-layout quality audit — Z-ORDER vs single-column clustering
# measured by min/max file skipping, the mechanism that decides scan
# cost at 100 TB. Rows are mapped to 16-bit (custkey, orderdate)
# coordinates, assigned to 64 "files" under two layouts (interleaved
# z-value prefix vs custkey prefix), and a fixed 20-rectangle workload
# is evaluated against each file's min/max footer stats. All-integer
# bit arithmetic end to end (the one division is the same IEEE double
# expression in both engines); the query grid attaches by exploding a
# literal array onto the <=128-row stats table — no join, no product.
# --------------------------------------------------------------------------
_Q48_NFILES_SHIFT_Z = 26     # 32-bit z >> 26 -> 64 z-order files
_Q48_NFILES_SHIFT_LIN = 10   # 16-bit ux >> 10 -> 64 linear files
_Q48_QUERIES = [
    (q, (q * 9973) % 50000, (q * 9973) % 50000 + 8000,
     (q * 7919) % 50000, (q * 7919) % 50000 + 8000)
    for q in range(20)
]


def _q48_z_sql(ux: str, uy: str) -> str:
    terms = []
    for b in range(16):
        terms.append(f"((({ux} >> {b}) & 1) << {2 * b + 1})")
        terms.append(f"((({uy} >> {b}) & 1) << {2 * b})")
    return " + ".join(terms)


def _q48_z_col(ux, uy):
    out = None
    for b in range(16):
        for col, off in ((ux, 2 * b + 1), (uy, 2 * b)):
            t = F.shiftleft(F.shiftright(col, b).bitwiseAND(F.lit(1)), off)
            out = t if out is None else out + t
    return out


def _q48_oracle() -> str:
    vals = ", ".join(f"({q}, {x0}, {x1}, {y0}, {y1})"
                     for q, x0, x1, y0, y1 in _Q48_QUERIES)
    return f"""
    WITH mm AS (
      SELECT MIN(o_custkey) AS ckmn,
             GREATEST(MAX(o_custkey) - MIN(o_custkey), 1) AS ckspan,
             MIN(CAST(o_orderdate AS DATE)) AS dmn,
             GREATEST(MAX(CAST(o_orderdate AS DATE))
                      - MIN(CAST(o_orderdate AS DATE)), 1) AS dspan
      FROM orders),
    base AS MATERIALIZED (
      SELECT CAST(FLOOR(CAST((o_custkey - mm.ckmn) * 65535 AS DOUBLE)
                        / CAST(mm.ckspan AS DOUBLE)) AS BIGINT) AS ux,
             CAST(FLOOR(CAST((CAST(o_orderdate AS DATE) - mm.dmn) * 65535
                             AS DOUBLE)
                        / CAST(mm.dspan AS DOUBLE)) AS BIGINT) AS uy
      FROM orders, mm),
    tagged AS (
      SELECT 'zorder' AS layout,
             ({_q48_z_sql('ux', 'uy')}) >> {_Q48_NFILES_SHIFT_Z} AS file_id,
             ux, uy
      FROM base
      UNION ALL
      SELECT 'linear' AS layout, ux >> {_Q48_NFILES_SHIFT_LIN} AS file_id,
             ux, uy
      FROM base),
    stats AS (
      SELECT layout, file_id,
             MIN(ux) AS minux, MAX(ux) AS maxux,
             MIN(uy) AS minuy, MAX(uy) AS maxuy
      FROM tagged GROUP BY layout, file_id),
    qs AS (SELECT * FROM (VALUES {vals}) AS t(qid, qx0, qx1, qy0, qy1)),
    hits AS (
      SELECT layout,
             CAST(COUNT(DISTINCT file_id) AS BIGINT) AS n_files,
             CAST(SUM(CASE WHEN minux <= qx1 AND maxux >= qx0
                            AND minuy <= qy1 AND maxuy >= qy0
                      THEN 1 ELSE 0 END) AS BIGINT) AS scanned_pairs
      FROM stats, qs GROUP BY layout)
    SELECT layout, n_files, scanned_pairs,
           {stable_round_sql(
               'CAST(scanned_pairs AS DOUBLE) / CAST(%d AS DOUBLE)'
               % len(_Q48_QUERIES))} AS mean_files_scanned,
           {stable_round_sql(
               '1.0 - CAST(scanned_pairs AS DOUBLE)'
               ' / CAST(n_files * %d AS DOUBLE)' % len(_Q48_QUERIES))}
           AS skip_pct
    FROM hits
    """


@register(
    "q48_zorder_skipping",
    oracle=_q48_oracle(),
    doc="Z-order layout audit: maps orders to 16-bit (custkey, "
        "orderdate) coordinates, packs them into 64 files under a "
        "bit-interleaved z-value prefix vs a custkey-only prefix, and "
        "scores both layouts by how many files a fixed 20-rectangle "
        "workload must scan given per-file min/max stats — the "
        "footer-pruning arithmetic that makes multi-dimensional "
        "predicates cheap at 100 TB (z-order bounds both dimensions "
        "per file; single-column clustering leaves the other "
        "dimension's min/max open). One scan, one 128-row stats "
        "groupBy, query grid exploded from a literal — no joins.",
)
def q48_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_orderdate").cast("date").alias("d"))
    mm = o.agg(
        F.min("o_custkey").alias("ckmn"),
        F.greatest(F.max("o_custkey") - F.min("o_custkey"),
                   F.lit(1)).alias("ckspan"),
        F.min("d").alias("dmn"),
        F.greatest(F.datediff(F.max("d"), F.min("d")),
                   F.lit(1)).alias("dspan")).first()
    ux = F.floor(((F.col("o_custkey") - F.lit(mm.ckmn)) * 65535)
                 .cast("double") / F.lit(float(mm.ckspan)))
    uy = F.floor((F.datediff(F.col("d"), F.lit(mm.dmn)) * 65535)
                 .cast("double") / F.lit(float(mm.dspan)))
    base = o.select(ux.alias("ux"), uy.alias("uy"))
    fz = F.shiftright(_q48_z_col(F.col("ux"), F.col("uy")),
                      _Q48_NFILES_SHIFT_Z)
    fl = F.shiftright(F.col("ux"), _Q48_NFILES_SHIFT_LIN)
    tagged = base.select(
        F.explode(F.array(
            F.struct(F.lit("zorder").alias("layout"),
                     fz.cast("bigint").alias("file_id")),
            F.struct(F.lit("linear").alias("layout"),
                     fl.cast("bigint").alias("file_id")))).alias("p"),
        "ux", "uy").select("p.layout", "p.file_id", "ux", "uy")
    stats = tagged.groupBy("layout", "file_id").agg(
        F.min("ux").alias("minux"), F.max("ux").alias("maxux"),
        F.min("uy").alias("minuy"), F.max("uy").alias("maxuy"))
    grid = F.array(*[
        F.struct(F.lit(q).alias("qid"),
                 F.lit(x0).alias("qx0"), F.lit(x1).alias("qx1"),
                 F.lit(y0).alias("qy0"), F.lit(y1).alias("qy1"))
        for q, x0, x1, y0, y1 in _Q48_QUERIES])
    crossed = stats.select(
        "layout", "file_id", "minux", "maxux", "minuy", "maxuy",
        F.explode(grid).alias("q"))
    hit = ((F.col("minux") <= F.col("q.qx1"))
           & (F.col("maxux") >= F.col("q.qx0"))
           & (F.col("minuy") <= F.col("q.qy1"))
           & (F.col("maxuy") >= F.col("q.qy0")))
    nq = len(_Q48_QUERIES)
    hits = crossed.groupBy("layout").agg(
        F.count_distinct("file_id").cast("bigint").alias("n_files"),
        F.sum(hit.cast("int")).cast("bigint").alias("scanned_pairs"))
    return hits.select(
        "layout", "n_files", "scanned_pairs",
        stable_round(F.col("scanned_pairs").cast("double")
                     / F.lit(float(nq))).alias("mean_files_scanned"),
        stable_round(F.lit(1.0) - F.col("scanned_pairs").cast("double")
                     / (F.col("n_files") * nq).cast("double"))
        .alias("skip_pct"))
