"""A1/A2/A6 aggregation semantics against numpy ground truth."""

from __future__ import annotations

import math
from pathlib import Path

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from mousedatapipeline_spark.operators import aggregates
from mousedatapipeline_spark.operators.aggregates import (
    census,
    dsum,
    dsum_sql,
    dvar_parts_sql,
    dvar_sql,
    first_by_order,
    repetition_stack,
    stack_stats,
)


def test_stack_stats_matches_numpy_ddof1(spark):
    vals = [1.5, 2.25, 4.0, 8.125, 9.5]
    df = spark.createDataFrame([("b", v) for v in vals], "k string, v double")
    row = stack_stats(df, ["k"], "v").collect()[0]
    assert row["count"] == 5
    assert math.isclose(row["mean"], np.mean(vals), rel_tol=1e-12)
    assert math.isclose(row["std"], np.std(vals, ddof=1), rel_tol=1e-12)
    assert math.isclose(row["sem"], np.std(vals, ddof=1) / math.sqrt(5),
                        rel_tol=1e-12)
    assert row["max"] == max(vals) and row["min"] == min(vals)


def test_stack_stats_constant_group_has_zero_std(spark):
    # Catastrophic-cancellation guard: sumsq - sum^2/n can go epsilon-
    # negative when all values are equal; std must be 0, not NaN.
    df = spark.createDataFrame([("b", 0.1)] * 4, "k string, v double")
    row = stack_stats(df, ["k"], "v").collect()[0]
    assert row["std"] == 0.0 and not math.isnan(row["std"])


@pytest.mark.parametrize("vals, expected", [
    ([0.33203125, 0.33203125], 0.0),
    ([100.1] * 3, 0.0),
    ([-999999.9] * 5, 0.0),
    ([1e6, 1e6 + 0.001], float(np.std([1e6, 1e6 + 0.001], ddof=1))),
])
def test_stack_stats_std_of_near_equal_values(spark, vals, expected):
    # The textbook sumsq - sum^2/n in double gave 6.8e-6, 1.9e-6 and
    # 0.0156 for the first, second and last of these.
    df = spark.createDataFrame([("b", v) for v in vals], "k string, v double")
    row = stack_stats(df, ["k"], "v").collect()[0]
    assert row["std"] == pytest.approx(expected, rel=1e-6, abs=1e-12)


def test_stack_stats_single_row_null_std(spark):
    df = spark.createDataFrame([("b", 3.0)], "k string, v double")
    row = stack_stats(df, ["k"], "v").collect()[0]
    assert row["std"] is None and row["sem"] is None  # n=1: ddof=1 undefined


def test_repetition_stack_orders_by_repetition(spark):
    df = spark.createDataFrame(
        [("b", 3, 30.0), ("b", 1, 10.0), ("b", 2, 20.0)],
        "k string, rep int, v double")
    row = repetition_stack(df, ["k"], "rep", "v").collect()[0]
    assert row["stacked"] == [10.0, 20.0, 30.0]
    assert row["n_reps"] == 3


def test_first_by_order_takes_min_repetition_value(spark):
    df = spark.createDataFrame(
        [("b", 2, "second"), ("b", 1, "first")], "k string, rep int, s string")
    row = df.groupBy("k").agg(
        first_by_order(value=F.col("s"), order=F.col("rep")).alias("f")
    ).collect()[0]
    assert row["f"] == "first"


def test_census_conditional_counts(spark):
    df = spark.createDataFrame(
        [("d1", "a"), ("d1", "a"), ("d1", "b"), ("d2", "b")],
        "dir string, kind string")
    rows = {r["dir"]: r for r in census(df, ["dir"], {
        "n_a": F.col("kind") == "a",
        "n_b": F.col("kind") == "b",
    }).collect()}
    assert rows["d1"]["n_a"] == 2 and rows["d1"]["n_b"] == 1
    assert rows["d2"]["n_a"] == 0 and rows["d2"]["n_b"] == 1


def test_dsum_is_partition_independent(spark):
    vals = [0.1] * 100
    one = spark.createDataFrame([(v,) for v in vals], "v double").coalesce(1)
    many = spark.createDataFrame([(v,) for v in vals], "v double").repartition(7)
    s1 = one.agg(dsum("v").alias("s")).collect()[0]["s"]
    s2 = many.agg(dsum("v").alias("s")).collect()[0]["s"]
    assert s1 == s2 == 10.0  # exact decimal accumulation


def _spark_dsum(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "v double")
    return df.agg(dsum("v")).collect()[0][0]


def _duckdb_dsum(values):
    with duckdb.connect() as con:
        con.execute("CREATE TABLE t (v DOUBLE)")
        con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in values])
        return con.execute(f"SELECT {dsum_sql('v')} FROM t").fetchone()[0]


@pytest.mark.parametrize("values", [
    [0.1, 0.2, 0.3],
    [1234.56, 0.01, 99999.99, -4321.5],
    [1e-7, 0.123456789, -0.5, 0.987654321],
])
def test_dsum_sql_matches_dsum(spark, values):
    assert _spark_dsum(spark, values) == _duckdb_dsum(values)


def _duckdb_dvar(values):
    with duckdb.connect() as con:
        con.execute("CREATE TABLE t (v DOUBLE)")
        con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in values])
        return con.execute(
            f"WITH a AS (SELECT CAST(COUNT(v) AS BIGINT) AS n, "
            f"{', '.join(dvar_parts_sql('v', 'x'))} FROM t) "
            f"SELECT {dvar_sql('x', 'n')} FROM a").fetchone()[0]


@pytest.mark.parametrize("values", [
    [0.1, 0.2, 0.3],
    [1234.56, 0.01, 99999.99, -4321.5],
    [0.33203125, 0.33203125],
    [-999999.9, -999999.9, -999999.91],
    [1e-7, 0.123456789, -0.5, 0.987654321],
])
def test_dvar_sql_matches_dvar(spark, values):
    df = spark.createDataFrame([("b", v) for v in values], "k string, v double")
    std = stack_stats(df, ["k"], "v").collect()[0]["std"]
    assert std == math.sqrt(_duckdb_dvar(values))


@pytest.mark.xfail(strict=True, reason=(
    "per-row DOUBLE -> DECIMAL casts round differently at a tie: Spark "
    "rounds the shortest decimal string half-up, DuckDB the scaled "
    "double half-to-even (aggregates module docstring)"))
def test_dsum_sql_matches_dsum_at_decimal_tie(spark):
    x = 8871.30695404645
    assert _spark_dsum(spark, [x]) == _duckdb_dsum([x])


def test_decimal_accumulator_spelled_once():
    """Only operators/aggregates.py names the accumulator type; every
    other module goes through dsum, dsum_sql or DEC."""
    pkg = Path(aggregates.__file__).resolve().parents[1]
    hits = sorted(p.relative_to(pkg).as_posix() for p in pkg.rglob("*.py")
                  if "decimal(30,10)" in p.read_text().lower())
    assert hits == ["operators/aggregates.py"]


def test_profile_columns_known_values(spark):
    from mousedatapipeline_spark.operators.aggregates import profile_columns
    df = spark.createDataFrame(
        [(1.0, 10.0), (2.0, None), (3.0, 10.0), (4.0, 40.0)],
        "a double, b double")
    out = {r["col_name"]: r for r in
           profile_columns(df, ["a", "b"], quantiles=(0.5,)).collect()}
    a, b = out["a"], out["b"]
    assert (a["n"], a["n_null"], a["n_distinct"]) == (4, 0, 4)
    assert (b["n"], b["n_null"], b["n_distinct"]) == (3, 1, 2)
    assert a["min_v"] == 1.0 and a["max_v"] == 4.0 and a["mean_v"] == 2.5
    assert a["p50"] == 2.5          # linear interpolation between 2 and 3
    assert b["p50"] == 10.0
    # approx mode (the 100 TB path) agrees on this tiny input
    approx = {r["col_name"]: r["p50"] for r in profile_columns(
        df, ["a", "b"], quantiles=(0.5,), exact=False).collect()}
    assert approx["b"] == 10.0


def _nearest_rank(vals, q):
    s = sorted(vals)
    return s[max(min(math.ceil(q * len(s)), len(s)), 1) - 1]


def test_bucketed_exact_quantiles_matches_nearest_rank(spark):
    from mousedatapipeline_spark.operators.aggregates import (
        bucketed_exact_quantiles,
    )
    rng = np.random.RandomState(7)
    vals = [int(x) for x in rng.randint(-50_000, 5_000_000, size=2000)]
    vals += [123456] * 40  # heavy tie block crossing a rank target
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    row = bucketed_exact_quantiles(
        df, "v", [(0.5, "p50"), (0.9, "p90"), (0.99, "p99")],
        n_alias="n", n_buckets=64).collect()[0]
    assert row["n"] == len(vals)
    for q, a in [(0.5, "p50"), (0.9, "p90"), (0.99, "p99")]:
        assert row[a] == _nearest_rank(vals, q), (q, row[a])


def test_bucketed_exact_quantiles_skew_and_tiny(spark):
    from mousedatapipeline_spark.operators.aggregates import (
        bucketed_exact_quantiles,
    )
    # All mass in one bucket (constant column) and n < n_buckets.
    df = spark.createDataFrame([(7,)] * 5, "v long")
    row = bucketed_exact_quantiles(
        df, "v", [(0.5, "p50"), (1.0, "p100")]).collect()[0]
    assert (row["n"], row["p50"], row["p100"]) == (5, 7, 7)


def test_bucketed_exact_quantiles_empty_is_all_null(spark):
    from mousedatapipeline_spark.operators.aggregates import (
        bucketed_exact_quantiles,
    )
    df = spark.createDataFrame([], "v long")
    row = bucketed_exact_quantiles(df, "v", [(0.5, "p50")]).collect()[0]
    assert row["n"] is None and row["p50"] is None


def test_bucketed_exact_quantiles_ignores_nulls(spark):
    from mousedatapipeline_spark.operators.aggregates import (
        bucketed_exact_quantiles,
    )
    df = spark.createDataFrame([(1,), (2,), (None,), (4,)], "v long")
    row = bucketed_exact_quantiles(df, "v", [(0.5, "p50")]).collect()[0]
    assert row["n"] == 3 and row["p50"] == 2
