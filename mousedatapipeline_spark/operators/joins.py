"""Join operators: broadcast dimension lookup (J1), as-of join (J2),
semi/anti membership (J6).

Reference parity notes are cited per function (file:line into
/root/reference/).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def broadcast_lookup(fact: DataFrame, dim: DataFrame, on: Sequence[str],
                     how: str = "left") -> DataFrame:
    """J1 — dimension lookup as an explicit broadcast hash join.

    The reference scans its Excel logbook for the *first* entry matching
    (ymd, batchnum) (src/processstep_metadata_update.py:41-48). ``dim``
    must already be unique on ``on`` so each fact row gets one output
    row: the logbook source keeps that first match when it loads
    (sources/logbook.load_logbook), so no dedupe runs here.

    Scale: the dimension is broadcast — no shuffle of the fact table at
    any scale.
    """
    return fact.join(F.broadcast(dim), list(on), how)


def asof_join(left: DataFrame, right: DataFrame, on: Sequence[str],
              left_time: str, right_time: str,
              right_values: Sequence[str],
              tolerance: Column | None = None,
              suffix: str = "_asof") -> DataFrame:
    """J2 — as-of join: for each left row, the latest right row with
    ``right_time <= left_time`` within the same ``on`` key group.

    Reference: mask selection picks, among masks of the same instrument
    configuration, the one with the nearest mask date *not after* the
    measurement date (src/processstep_add_mask_file.py:34-81); no such
    mask -> null columns (step skipped, :95-97).

    Implementation — union + carry-forward, NOT join-then-filter:
    tag right rows 0 / left rows 1, union, and take
    ``last(right_payload, ignorenulls=True)`` over a window ordered by
    (time, tag). This is a single shuffle on ``on`` with no pair
    explosion, so it survives many-to-many key skew at 100 TB where a
    conditional join would blow up. At equal timestamps the right row
    sorts before the left row (tag 0 < 1), giving the inclusive <=
    bound; ties among right rows at the same timestamp resolve to the
    greatest payload (column order of ``right_values``) via the
    secondary sort below. Left columns ride through the shuffle in a
    struct, so no re-join (and no nondeterministic row-id) is needed.
    """
    on = list(on)
    rv = list(right_values)
    left_cols = list(left.columns)

    payload_t = right.select(
        F.struct(*[F.col(c) for c in rv]).alias("p")).schema["p"].dataType
    lrow_t = left.select(
        F.struct(*[F.col(c) for c in left_cols]).alias("s")).schema["s"].dataType

    r = right.select(
        *on,
        F.col(right_time).alias("__t"),
        F.lit(0).alias("__is_left"),
        F.struct(*[F.col(c) for c in rv]).alias("__payload"),
        F.lit(None).cast(lrow_t).alias("__lrow"),
    )
    l = left.select(
        *on,
        F.col(left_time).alias("__t"),
        F.lit(1).alias("__is_left"),
        F.lit(None).cast(payload_t).alias("__payload"),
        F.struct(*[F.col(c) for c in left_cols]).alias("__lrow"),
    )
    unioned = r.unionByName(l)

    # Secondary sort on the payload itself makes the carried value
    # deterministic when several right rows share a timestamp.
    w = (
        Window.partitionBy(*on)
        .orderBy(F.col("__t").asc_nulls_first(), F.col("__is_left").asc(),
                 F.col("__payload").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # The carry expression must be NULL (not a struct with null fields) on
    # left rows, or last(ignorenulls) would pick the left row itself.
    carry_src = F.when(
        F.col("__is_left") == 0,
        F.struct(F.col("__t").alias("__rt"), F.col("__payload")))
    carried = unioned.withColumn(
        "__carry", F.last(carry_src, ignorenulls=True).over(w))
    matched = carried.filter(F.col("__is_left") == 1)

    if tolerance is not None:
        in_tol = F.col("__t") - F.col("__carry.__rt") <= tolerance
        matched = matched.withColumn(
            "__carry", F.when(in_tol, F.col("__carry")))

    return matched.select(
        *[F.col(f"__lrow.{c}").alias(c) for c in left_cols],
        *[F.col(f"__carry.__payload.{c}").alias(f"{c}{suffix}") for c in rv],
    )


def anti_members(manifest: DataFrame, processed: DataFrame,
                 on: Sequence[str]) -> DataFrame:
    """J6/F2 — rows of the manifest not yet processed (left-anti join;
    src/checkers.py:5-13 `already_processed`)."""
    return manifest.join(processed.select(*on).dropDuplicates(list(on)),
                         list(on), "left_anti")


def semi_members(manifest: DataFrame, processed: DataFrame,
                 on: Sequence[str]) -> DataFrame:
    """J6 — rows of the manifest already processed (left-semi join;
    src/utilities.py:66-71)."""
    return manifest.join(processed.select(*on).dropDuplicates(list(on)),
                         list(on), "left_semi")


def bucketed_range_join(left: DataFrame, right: DataFrame,
                        keys: Sequence[str], left_ts: str, right_ts: str,
                        lower_us: int, upper_us: int,
                        bucket_us: int | None = None,
                        how: str = "inner") -> DataFrame:
    """Band (interval) join: match right rows with
    ``right_ts in (left_ts + lower_us, left_ts + upper_us]``
    (microsecond longs), equi-keyed on ``keys``.

    Beyond-reference operator (the reference has no temporal join; its
    closest is the as-of mask lookup, src/processstep_find_mask.py).

    Scale strategy: a theta-join on the time band would be a
    nested-loop (or an unbounded per-key sort-merge fan-out for hot
    keys). Instead map each right row to its time bucket and each left
    row to the 1-2 buckets its window overlaps (``bucket_us`` defaults
    to the window width, so the fan-out is at most 2), equi-join on
    ``(*keys, bucket)``, then apply the exact band predicate. The join
    is a plain shuffle equi-join — AQE can split skewed buckets, and
    partial pair counts never materialize beyond one bucket's span.
    Each (left, right) pair meets in exactly one bucket (the right
    row's), so no dedup is needed.

    ``left_ts``/``right_ts`` must be distinct column names; key columns
    are coalesced by the equi-join.
    """
    if bucket_us is None:
        bucket_us = max(upper_us - lower_us, 1)
    lb = F.floor((F.col(left_ts) + F.lit(lower_us) + 1) / F.lit(bucket_us))
    ub = F.floor((F.col(left_ts) + F.lit(upper_us)) / F.lit(bucket_us))
    lhs = left.withColumn(
        "__bucket", F.explode(F.sequence(lb.cast("long"), ub.cast("long"))))
    rhs = right.withColumn(
        "__bucket", F.floor(F.col(right_ts) / F.lit(bucket_us)).cast("long"))
    band = (
        (F.col(right_ts) > F.col(left_ts) + F.lit(lower_us))
        & (F.col(right_ts) <= F.col(left_ts) + F.lit(upper_us)))
    return lhs.join(rhs, [*keys, "__bucket"], how).where(band).drop("__bucket")


def salted_join(fact: DataFrame, dim: DataFrame, keys: Sequence[str],
                salt_from: str, n_salts: int = 16,
                how: str = "inner") -> DataFrame:
    """Skew-tolerant shuffle equi-join for a non-broadcastable dim.

    A shuffle join on a low-cardinality or hot-keyed column lands every
    row of a hot key on ONE reducer. Salting spreads it: the fact side
    derives a deterministic salt from ``salt_from`` (any roughly
    uniform fact column — its primary key — NOT rand(), so retries and
    replays stay consistent), the dim side is replicated ``n_salts``
    times, and the join runs on ``(*keys, salt)`` — n_salts reducers
    per key instead of one.

    Decision ladder at scale: broadcast if the dim fits in executor
    memory; AQE skew-join if skew is moderate and AQE is on; salt when
    the dim is too big to broadcast AND keys are few/hot enough that
    even split shuffle blocks overwhelm single reducers. Cost: dim is
    shuffled n_salts times — keep n_salts near (cluster cores / distinct
    keys).
    """
    f = fact.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(salt_from)), F.lit(n_salts)))
    d = dim.withColumn(
        "__salt",
        F.explode(F.array(*[F.lit(i) for i in range(n_salts)])))
    return f.join(d, [*keys, "__salt"], how).drop("__salt")


def snapshot_diff(old: DataFrame, new: DataFrame, keys: Sequence[str],
                  compare: Sequence[str]) -> DataFrame:
    """CDC extraction: diff two snapshots of a keyed table into
    insert / delete / update rows (unchanged rows are dropped).

    The incremental-refresh primitive the reference approximates with
    filesystem mtime checks (`src/processstep_stacker.py:21-39`): at
    100 TB you never recompute the world — you diff the new snapshot
    against the old and propagate only the changes.

    Shape: ONE full-outer equi-join on the key. With both snapshots
    bucketed/partitioned by the key this is a co-located sort-merge
    join with no shuffle at all; change detection is a null-safe
    column comparison (no row-fingerprint strings, so no cross-engine
    float-formatting hazards and Catalyst can prune every column not
    in ``keys + compare``).

    Returns ``keys + action + old_<c>/new_<c>`` for each compare col.
    """
    o = old.select(*keys, *compare)
    n = new.select(*keys, *compare)
    for c in list(keys) + list(compare):
        o = o.withColumnRenamed(c, f"_o_{c}")
        n = n.withColumnRenamed(c, f"_n_{c}")
    cond = None
    for k in keys:
        eq = o[f"_o_{k}"].eqNullSafe(n[f"_n_{k}"])
        cond = eq if cond is None else cond & eq
    j = o.join(n, cond, "full_outer")
    changed = None
    for c in compare:
        ne = ~F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))
        changed = ne if changed is None else changed | ne
    action = (
        F.when(F.col(f"_o_{keys[0]}").isNull(), F.lit("insert"))
        .when(F.col(f"_n_{keys[0]}").isNull(), F.lit("delete"))
        .when(changed, F.lit("update")))
    out_keys = [F.coalesce(F.col(f"_o_{k}"), F.col(f"_n_{k}")).alias(k)
                for k in keys]
    out_vals = [e for c in compare
                for e in (F.col(f"_o_{c}").alias(f"old_{c}"),
                          F.col(f"_n_{c}").alias(f"new_{c}"))]
    return (j.withColumn("action", action)
            .filter(F.col("action").isNotNull())
            .select(*out_keys, "action", *out_vals))
