"""Aggregation operators: repetition stacking (A1), stack statistics
(A2), census counts (A6), min-by "from first file" (A1), latest-mtime
freshness (A7).

Reference parity notes cited per function (file:line into
/root/reference/).

Oracle-parity note (why the decimal casts): the driver hash-compares
Spark output against DuckDB. Floating-point SUMs are order-dependent, so
two engines summing the same doubles in different orders disagree in the
last ulps. Summing DECIMAL is exact and order-independent; casting the
exact decimal sum back to DOUBLE is deterministic. Derived statistics
(mean/var/sem) are then identical IEEE double expressions on identical
decimal sums in both engines. This costs one widening cast per row —
JVM-side, codegen'd, negligible next to the shuffle — and keeps results
stable under AQE re-partitioning at any scale. ``dsum`` is the Spark
side and ``dsum_sql`` its DuckDB twin; both spell the accumulator type
through ``DEC``.

Known gap: the per-row DOUBLE -> DECIMAL cast is not the same in both
engines. Spark rounds the double's shortest decimal string half-up;
DuckDB scales the double by 10^10 in floating point and rounds half to
even. They disagree when that scaled product lands exactly on .5:
8871.30695404645 gives ...4065 in Spark and ...4064 in DuckDB. A probe
of single-value sums found 408 mismatches in 6,000 uniform doubles
within +-1e4 and +-1e6, and none for values under 1 or for 2-decimal
prices up to 5e5.

Sample variance (``dvar``/``dvar_sql``) takes its own exact sums: the
textbook ``(sumsq - sum^2/n) / (n-1)`` in double loses about
``eps * sumsq``, so it gives equal values a std near 1e-5 (0.33203125
twice: 6.8e-6) and equal values near 1e6 one near 1e-2. Each
input is rounded to ``VDEC`` (8 places), where its square is exact, and
the sums are re-centred on ``k = floor(min)`` in decimal, so only the
small term ``(sum(v - k))^2 / n`` is left to double arithmetic.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Exact, order-independent accumulator type for double inputs. Upper
# case so the DuckDB oracles embed it verbatim; Spark's type parser
# ignores case.
DEC = "DECIMAL(30,10)"


def dsum(col: str | Column, alias: str | None = None) -> Column:
    """Order-independent sum of a double column (decimal accumulator)."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast(DEC)).cast("double")
    return out.alias(alias) if alias else out


def dsum_sql(expr: str) -> str:
    """DuckDB twin of ``dsum`` for the oracles: the decimal sum of the
    SQL expression ``expr``, back as DOUBLE.

    The way back goes through VARCHAR because DuckDB's direct DECIMAL ->
    DOUBLE cast divides by a power of ten and misses the nearest double
    for a few percent of values; parsing the exact decimal text rounds
    correctly, as Spark's decimal -> double cast does.
    """
    return f"CAST(CAST(SUM(CAST({expr} AS {DEC})) AS VARCHAR) AS DOUBLE)"


# Scale of the variance path: a value rounded to 8 places squares
# exactly into 16 places, so both of its sums are exact. The
# casts in ``_var_sql`` bound |v| < 1e10, |sum v| < 1e18 and
# sum v^2 < 1e21 per group (null past them, or an error under ANSI).
VDEC = "DECIMAL(18,8)"


def dvar_parts_sql(expr: str, tag: str) -> list[str]:
    """The three aggregates ``dvar``/``dvar_sql`` finish, as SQL text
    both engines parse alike: ``{tag}_s1`` = sum, ``{tag}_s2`` = sum of
    squares and ``{tag}_k`` = floor of the minimum, all exact decimals
    of ``expr`` rounded to ``VDEC``."""
    r = f"CAST({expr} AS {VDEC})"
    # One factor at precision 19: DuckDB multiplies two DECIMAL(18)s in
    # 64 bits and overflows, and Spark still fits the product in 38.
    return [f"CAST(SUM({r}) AS DECIMAL(28,8)) AS {tag}_s1",
            f"SUM({r} * CAST({r} AS DECIMAL(19,8))) AS {tag}_s2",
            f"CAST(FLOOR(MIN({r})) AS DECIMAL(11,0)) AS {tag}_k"]


def dvar_parts(col: str, tag: str) -> list[Column]:
    """Spark side of ``dvar_parts_sql`` over the column named ``col``."""
    return [F.expr(e) for e in dvar_parts_sql(f"`{col}`", tag)]


def _var_sql(tag: str, n: str, to_double) -> str:
    """Sample variance (ddof=1) from the ``{tag}_*`` parts and the count
    ``n``. ``u`` = sum(v - k) and ``t`` = sum((v - k)^2) = s2 - k*(s1 + u)
    are exact decimals; then ``(t - u^2/n) / (n-1)``, clamped at 0 (with
    v >= k, both terms are at most about n times the result, so the
    double subtraction loses only ~n ulps of it). Every cast pins a type
    whose precision Spark's decimal rules would otherwise cut."""
    s1, s2, k = f"{tag}_s1", f"{tag}_s2", f"{tag}_k"
    u = f"({s1} - CAST(CAST({n} AS DECIMAL(19,0)) * {k} AS DECIMAL(20,0)))"
    t = (f"(CAST({s2} AS DECIMAL(37,16))"
         f" - CAST({k} * CAST({s1} + {u} AS DECIMAL(26,8))"
         f" AS DECIMAL(37,16)))")
    nd = f"CAST({n} AS DOUBLE)"
    ud = to_double(u)
    return (f"GREATEST(({to_double(t)} - {ud} * {ud} / {nd})"
            f" / ({nd} - 1.0), 0.0)")


def dvar(tag: str, n: str) -> Column:
    """Order-independent sample variance from ``dvar_parts(col, tag)``
    over the count column ``n``."""
    return F.expr(_var_sql(tag, n, lambda x: f"CAST({x} AS DOUBLE)"))


def dvar_sql(tag: str, n: str) -> str:
    """DuckDB twin of ``dvar``; decimals go to DOUBLE through VARCHAR
    for the reason ``dsum_sql`` gives."""
    return _var_sql(
        tag, n, lambda x: f"CAST(CAST({x} AS VARCHAR) AS DOUBLE)")


def stack_stats(df: DataFrame, keys: Sequence[str], value: str,
                prefix: str = "",
                extra_aggs: dict[str, Column] | None = None) -> DataFrame:
    """A2 — per-group mean / std(ddof=1) / sem / max / min / count.

    Reference: the stacker writes ``{path}_averaged/{mean,std,sem,max,
    min,n}`` per stacked dataset with std at ddof=1 and sem = std/sqrt(n)
    (src/post_translation_operation_hdf5_stacker.py:162-189).

    Single shuffle on ``keys`` with map-side partial aggregation; the
    mean and variance come from exact decimal sums (``dsum``, ``dvar``)
    so the result is reproducible under any partitioning (see module
    docstring).
    ``extra_aggs`` rides additional aggregate columns on the SAME
    groupBy — callers needing stats plus other aggregates should pass
    them here rather than aggregating twice and joining.
    """
    p = prefix
    v = F.col(value)
    agg = df.groupBy(*keys).agg(
        dsum(v, "__sum"),
        *dvar_parts(value, "__v"),
        F.count(v).cast("bigint").alias(f"{p}count"),
        F.max(v).alias(f"{p}max"),
        F.min(v).alias(f"{p}min"),
        *[c.alias(name) for name, c in (extra_aggs or {}).items()],
    )
    n = F.col(f"{p}count").cast("double")
    mean = F.col("__sum") / n
    std = F.sqrt(dvar("__v", f"`{p}count`"))
    return (
        agg.withColumn(f"{p}mean", mean)
        .withColumn(f"{p}std", F.when(F.col(f"{p}count") > 1, std))
        .withColumn(f"{p}sem", F.when(F.col(f"{p}count") > 1, std / F.sqrt(n)))
        .drop("__sum", "__v_s1", "__v_s2", "__v_k")
    )


def repetition_stack(df: DataFrame, keys: Sequence[str], order_col: str,
                     value: str, alias: str = "stacked") -> DataFrame:
    """A1 — stack one value per repetition into an array ordered by the
    repetition number.

    Reference: stacked datasets gain a leading axis ordered by the
    trailing repetition int of the filename
    (src/post_translation_operation_hdf5_stacker.py:120-126,
    src/utilities.py:92-93).

    ``sort_array(collect_list(struct(order, value)))`` sorts inside each
    group after the shuffle — no global sort, no ordering assumption on
    the input.
    """
    pair = F.struct(F.col(order_col).alias("o"), F.col(value).alias("v"))
    return df.groupBy(*keys).agg(
        F.transform(F.sort_array(F.collect_list(pair)), lambda s: s["v"]).alias(alias),
        F.count(F.lit(1)).cast("bigint").alias("n_reps"),
    )


def first_by_order(*, value: Column, order: Column) -> Column:
    """A1 "non-stacked datasets come from the first file": the value at
    the minimum repetition (src/post_translation_operation_hdf5_stacker.py:191-214).
    """
    return F.min_by(value, order)


def census(df: DataFrame, keys: Sequence[str],
           predicates: dict[str, Column]) -> DataFrame:
    """A6/F1 — per-group conditional counts (file-count census).

    Reference: completeness counts files per glob pattern
    (src/checkers.py:15-16). Each predicate becomes a
    ``count(when(pred, 1))`` column; single shuffle, map-side combine.
    """
    aggs = [F.count(F.when(pred, F.lit(1))).cast("bigint").alias(name)
            for name, pred in predicates.items()]
    return df.groupBy(*keys).agg(*aggs)


def latest_mtime(df: DataFrame, keys: Sequence[str],
                 mtime_col: str = "modificationTime") -> DataFrame:
    """A7/F7 — max modification time per group, for freshness checks
    (src/processstep_stacker.py:33-35)."""
    return df.groupBy(*keys).agg(F.max(mtime_col).alias("latest_mtime"))


def profile_columns(df: DataFrame, cols: Sequence[str],
                    quantiles: Sequence[float] = (0.25, 0.5, 0.75, 0.95),
                    exact: bool = True) -> DataFrame:
    """Data-profiling summary: one row per numeric column with count /
    nulls / distinct / min / max / mean / quantiles.

    Beyond-reference operator (training-data QA): unpivot the columns
    into long format INSIDE the scan stage (explode of an inline struct
    array — no shuffle), then ONE aggregation keyed by column name.

    Scale, ``exact=True``: two-stage plan. Stage 1 pre-aggregates a
    ``(col_name, v) -> cnt`` histogram (map-side combinable; collapses
    low-cardinality columns to their distinct values); stage 2 runs the
    weighted exact ``percentile(v, q, cnt)`` per column. Compared to a
    single-pass ``count_distinct + percentile`` aggregation this avoids
    the EXPAND that count_distinct adds (doubling the shuffled long
    table) and shrinks the object-agg merge — measured 7.7s -> 2.7s
    warm at sf0.1 (3x1.8M values). n_distinct falls out of the
    histogram for free. The final per-column sort is still one task per
    column — at 100 TB use ``exact=False``: one pass with bounded
    sketches (``percentile_approx`` GK + ``approx_count_distinct``
    HLL), map-side combinable, no histogram shuffle.
    """
    pairs = F.array(*[
        F.struct(F.lit(c).alias("col_name"),
                 F.col(c).cast("double").alias("v")) for c in cols])
    long = df.select(F.explode(pairs).alias("p")).select("p.col_name", "p.v")
    qarr = F.array(*[F.lit(float(q)) for q in quantiles])
    if exact:
        hist = long.groupBy("col_name", "v").agg(
            F.count(F.lit(1)).alias("cnt"))
        agg = hist.groupBy("col_name").agg(
            F.sum(F.when(F.col("v").isNotNull(), F.col("cnt"))
                  .otherwise(0)).cast("bigint").alias("n"),
            F.sum(F.when(F.col("v").isNull(), F.col("cnt"))
                  .otherwise(0)).cast("bigint").alias("n_null"),
            F.count("v").cast("bigint").alias("n_distinct"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
            # decimal-per-value times cnt == the oracle's repeated
            # decimal addition, bit-for-bit
            F.sum(F.col("v").cast(DEC) * F.col("cnt")).cast("double")
                .alias("__sum"),
            F.percentile("v", qarr, F.col("cnt")).alias("__q"))
    else:
        agg = long.groupBy("col_name").agg(
            F.count("v").cast("bigint").alias("n"),
            (F.count(F.lit(1)) - F.count("v")).cast("bigint")
                .alias("n_null"),
            F.approx_count_distinct("v").cast("bigint").alias("n_distinct"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
            dsum("v", "__sum"),
            F.percentile_approx("v", qarr, 10_000).alias("__q"))
    out = agg.withColumn(
        "mean_v", F.col("__sum") / F.col("n").cast("double"))
    for i, q in enumerate(quantiles):
        out = out.withColumn(f"p{int(q * 100)}", F.col("__q")[i])
    return out.drop("__sum", "__q")


def incremental_agg_merge(old_snap: DataFrame, new_snap: DataFrame,
                          row_key: str, group_key: str,
                          value: str) -> DataFrame:
    """Incremental view maintenance for a (count, sum) group aggregate.

    Computes the old snapshot's aggregate, the CDC diff between the
    snapshots (operators.joins.snapshot_diff), folds the diff into a
    per-group delta (insert:+new, delete:-old, update:+new-old) and
    merges: ``new_agg = old_agg (+) delta``; groups whose count reaches
    zero are retired. All accumulation is decimal — the result is
    bit-identical to aggregating the new snapshot from scratch, at a
    cost proportional to the delta.

    Returns ``(group_key, n_rows bigint, sum_value decimal)``.
    """
    from mousedatapipeline_spark.operators.joins import snapshot_diff

    old_agg = old_snap.groupBy(group_key).agg(
        F.sum(F.col(value).cast(DEC)).alias("_rev"),
        F.count(F.lit(1)).cast("bigint").alias("_n"))

    diff = snapshot_diff(old_snap, new_snap, [row_key],
                         [value, group_key])
    a = F.col("action")
    og, ng = F.col(f"old_{group_key}"), F.col(f"new_{group_key}")
    ov = F.col(f"old_{value}").cast(DEC)
    nv = F.col(f"new_{value}").cast(DEC)
    one, neg = F.lit(1).cast("bigint"), F.lit(-1).cast("bigint")
    sub = F.struct(og.alias("g"), (-ov).alias("d"), neg.alias("n"))
    add = F.struct(ng.alias("g"), nv.alias("d"), one.alias("n"))
    # An update whose GROUP KEY changed must touch both groups:
    # retract from the old, insert into the new. Same-group updates
    # fold into one net contribution.
    contribs = (
        F.when(a == "insert", F.array(add))
        .when(a == "delete", F.array(sub))
        .when(og.eqNullSafe(ng),
              F.array(F.struct(og.alias("g"), (nv - ov).cast(DEC)
                               .alias("d"),
                               F.lit(0).cast("bigint").alias("n"))))
        .otherwise(F.array(sub, add)))
    contrib = diff.select(F.explode(contribs).alias("c")) \
        .select(F.col("c.g").alias(group_key),
                F.col("c.d").alias("_drev"), F.col("c.n").alias("_dn"))
    delta = contrib.groupBy(group_key).agg(
        F.sum("_drev").alias("_ddrev"), F.sum("_dn").alias("_ddn"))

    # Both sum operands are decimal(38,10) (Spark's sum caps precision
    # at 38); adding them as-is would need decimal(39,10), and the
    # precision-loss rule silently REDUCES THE SCALE to 9 — a real
    # lost digit. Narrow both back to DEC first (group sums
    # fit comfortably), so the merge addition stays exact.
    zero = F.lit(0).cast(DEC)
    return (old_agg.join(delta, group_key, "full_outer")
            .select(group_key,
                    (F.coalesce("_n", F.lit(0))
                     + F.coalesce("_ddn", F.lit(0)))
                    .cast("bigint").alias("n_rows"),
                    (F.coalesce("_rev", zero).cast(DEC)
                     + F.coalesce("_ddrev", zero).cast(DEC))
                    .alias("sum_value"))
            .filter(F.col("n_rows") > 0))


def bucketed_exact_quantiles(df: DataFrame, value_col: str,
                             quantiles: Sequence[tuple[float, str]],
                             n_alias: str = "n",
                             n_buckets: int = 4096) -> DataFrame:
    """Exact nearest-rank quantiles of one integer column WITHOUT a
    global single-partition sort — the 100-TB plan for global order
    statistics.

    A global ``row_number() OVER (ORDER BY v)`` funnels every row into
    ONE window task; ``percentile()`` buffers every value on one
    executor. Instead:

      job 1 — (count, min, max): one scalar aggregate, 1 collected row.
      job 2 — histogram of ``<= n_buckets`` value buckets: one groupBy,
              <= n_buckets collected rows (broadcast-class, the s18
              Bloom-literal budget). The cumulative histogram locates
              each target rank's bucket and its within-bucket offset
              driver-side — O(n_buckets) arithmetic.
      job 3 — filter to the (few) target buckets, aggregate to
              per-VALUE counts, rank the values within each bucket by
              cumulative count, pick the value covering each offset.

    Every stage is fully parallel; driver traffic is two tiny result
    sets, never data. Nearest-rank semantics (value at rank
    ``ceil(q*n)``, ascending) — identical to the single-window form,
    because equal values always share a bucket so within-bucket tie
    order cannot change the selected VALUE. Skew-proof by
    construction: job 3's window input is (bucket, value, count)
    rows — at most ``width = span/n_buckets`` DISTINCT values per
    bucket regardless of how many ROWS pile onto a hot value; the
    row mass is absorbed by job 3's map-side partial count, never
    sorted.

    ``quantiles``: (q, output_alias) pairs. Returns a 1-row DataFrame
    ``(n_alias, *aliases)``; all-NULL quantile slots when the input is
    empty (matching ``MAX(...) OVER`` aggregate semantics on an empty
    relation).
    """
    spark = df.sparkSession
    v = F.col(value_col)
    # NULLs carry no rank (SQL semantics); drop them up front so the
    # histogram buckets and the collected n agree. Checkpoint eagerly:
    # three jobs consume this input, and without materialization each
    # would re-execute the caller's entire upstream plan.
    df = df.select(v).filter(v.isNotNull()).localCheckpoint()
    stats = df.agg(F.count(v).alias("n"), F.min(v).alias("lo"),
                   F.max(v).alias("hi")).collect()[0]
    n, lo, hi = stats["n"], stats["lo"], stats["hi"]
    aliases = [a for _, a in quantiles]
    if n == 0:
        row = spark.range(1).select(
            F.lit(None).cast("bigint").alias(n_alias),
            *[F.lit(None).cast("bigint").alias(a) for a in aliases])
        return row
    width = max((int(hi) - int(lo)) // n_buckets + 1, 1)
    bucket = F.expr(f"CAST(((`{value_col}`) - ({int(lo)})) "
                    f"DIV {width} AS BIGINT)")
    hist = sorted(
        (r["b"], r["c"]) for r in
        df.groupBy(bucket.alias("b"))
          .agg(F.count(F.lit(1)).alias("c")).collect())
    targets: list[tuple[int, int, str]] = []  # (bucket, offset, alias)
    for q, alias in quantiles:
        # ceil in DOUBLE, deliberately: the SQL oracles compute
        # CEIL(q * n) in double too, so float semantics must match.
        import math
        rn = max(min(math.ceil(q * n), n), 1)
        cum = 0
        for b, c in hist:
            if cum + c >= rn:
                targets.append((b, rn - cum, alias))
                break
            cum += c
    want = {b for b, _, _ in targets}
    from pyspark.sql import Window as W
    # Per-VALUE counts first: the window then ranks <= width distinct
    # values per bucket, immune to row-count skew on a hot value.
    per_value = (df.select(v.alias("__v"), bucket.alias("__b"))
                 .filter(F.col("__b").isin(*want))
                 .groupBy("__b", "__v")
                 .agg(F.count(F.lit(1)).alias("__c")))
    cum = per_value.withColumn(
        "__cum", F.sum("__c").over(
            W.partitionBy("__b").orderBy("__v")
            .rowsBetween(W.unboundedPreceding, 0)))
    # The offset row's value = the smallest value whose cumulative
    # count reaches the offset.
    aggs = [F.min(F.when((F.col("__b") == b) & (F.col("__cum") >= off),
                         F.col("__v"))).cast("bigint").alias(alias)
            for b, off, alias in targets]
    return cum.agg(F.lit(n).cast("bigint").alias(n_alias), *aggs)
