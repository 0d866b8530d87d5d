"""Cross-engine-stable rounding for oracle-compared outputs.

Problem: the driver hash-compares Spark output with DuckDB output.
``ROUND(double, n)`` is engine-defined at half-boundaries — Spark rounds
HALF_UP on the exact decimal expansion of the double (BigDecimal), while
DuckDB rounds via scaled libm arithmetic — so a mean that lands exactly
on ``x.xxxxxx5`` rounds differently (observed: 1.0341375 → 1.034138 in
Spark, 1.034137 in DuckDB).

Fix: express rounding using only primitive IEEE-754 ops that both
engines execute identically — multiply, add, floor, divide:

    floor(x * 10^d + 0.5001) / 10^d

The 1e-4 nudge moves the decision boundary off the exact tie. Values
within 1e-4 of a half-boundary may round "wrong" by one ulp of the last
digit — but identically wrong in BOTH engines, which is the property the
correctness gate needs. No libm, no decimal semantics, no BigDecimal.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


# Above this magnitude the spacing between adjacent doubles exceeds
# 1e-6, so "round to 6 decimals" is the identity; pass through unchanged
# (also keeps x*1e6 inside bigint range for Spark's LONG-typed floor).
_PASSTHROUGH = 1.0e9


def stable_round(col: Column, digits: int = 6) -> Column:
    """Round a double column deterministically across Spark and DuckDB.

    The input is cast to double first so decimal-typed expressions (and
    decimal-parsed literals on the DuckDB side) take the same IEEE path.
    """
    scale = float(10 ** digits)
    x = col.cast("double")
    rounded = F.floor(x * F.lit(scale) + F.lit(0.5001)) / F.lit(scale)
    return F.when(F.abs(x) >= _PASSTHROUGH, x).otherwise(rounded)


def stable_round_sql(expr: str, digits: int = 6) -> str:
    """The DuckDB-side twin of :func:`stable_round`."""
    scale = float(10 ** digits)
    return (f"CASE WHEN ABS(CAST({expr} AS DOUBLE)) >= {_PASSTHROUGH} "
            f"THEN CAST({expr} AS DOUBLE) "
            f"ELSE FLOOR(CAST({expr} AS DOUBLE) * {scale} + 0.5001) / {scale} "
            f"END")


def stable_round_array(x, digits: int = 6):
    """The numpy twin of :func:`stable_round` over a float64 array, for
    results computed on the driver: the same multiply, add, floor and
    divide, so the values are bit-identical to Spark's."""
    import numpy as np

    scale = float(10 ** digits)
    x = np.asarray(x, dtype=np.float64)
    return np.where(np.abs(x) >= _PASSTHROUGH, x,
                    np.floor(x * scale + 0.5001) / scale)
