"""Layout pinning (round 10): pin_partitioned / pin_keyed.

The contract under test is PHYSICAL, not logical: a pinned frame's
checkpoint must carry its hash-partitioning (and sort order) into
consumer plans so same-key joins/aggregations skip their Exchange —
and none of that may change any result. The scale path (pin engaged,
broadcast off => per-round sort-merge joins over the pinned layout) is
forced locally with a tiny autoBroadcastJoinThreshold, which is
exactly the regime a 100 TB label table puts the loop in.
"""

from __future__ import annotations

from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from mousedatapipeline_spark.operators.graph import connected_components
from mousedatapipeline_spark.tables import pin_keyed, pin_partitioned


@contextmanager
def _conf(spark, key, value):
    prev = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def test_pin_partitioned_claims_layout(spark):
    df = spark.range(1000).select(F.col("id").alias("v"),
                                  (F.col("id") % 7).alias("x"))
    ck = pin_partitioned(df, ["v"])
    plan = _formatted(ck)
    assert "hashpartitioning(v" in plan
    assert "v#" in plan and "ASC NULLS FIRST" in plan  # sorted claim
    # plain checkpoint loses it (the behavior pin exists to fix):
    # with an exchange in the subtree the compile is AQE-wrapped, and
    # an AdaptiveSparkPlan leaf reports UnknownPartitioning at
    # checkpoint time even though the data IS hash-distributed
    plain = df.repartition(4, "v").localCheckpoint(eager=True)
    assert "UnknownPartitioning" in _formatted(plain)


def test_pinned_side_joins_without_exchange(spark):
    df = spark.range(5000).select(F.col("id").alias("v"),
                                  (F.col("id") % 3).alias("x"))
    other = spark.range(2000).select(F.col("id").alias("v"),
                                     F.lit(1).alias("y"))
    with _conf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1"):
        pinned = pin_partitioned(df, ["v"])
        plan = _formatted(pinned.join(other, "v"))
    # exactly ONE exchange: the unpinned side. The pinned side must
    # contribute neither an Exchange nor a Sort (tree markers — the
    # detail list would also match ") Sort" inside "SortMergeJoin").
    assert plan.count("- Exchange") == 1, plan
    assert plan.count("- Sort (") == 1, plan


def test_pin_keyed_gate(spark):
    df = spark.range(200).select(F.col("id").alias("v"))
    # tiny table under the default threshold: identity (plain ckpt,
    # no re-pin => no hashpartitioning-by-key claim)
    small = pin_keyed(df, ["v"])
    assert "hashpartitioning(v" not in _formatted(small)
    # force the scale regime: threshold below the table size => pinned
    with _conf(spark, "spark.sql.autoBroadcastJoinThreshold", "1"):
        big = pin_keyed(df, ["v"])
    assert "hashpartitioning(v" in _formatted(big)
    # threshold -1 (auto-broadcast disabled) must also pin: there is
    # no broadcast regime to be identity for
    with _conf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1"):
        off = pin_keyed(df, ["v"])
    assert "hashpartitioning(v" in _formatted(off)


def test_pin_keyed_rows_identical(spark):
    df = spark.range(300).select((F.col("id") % 41).alias("v"),
                                 F.col("id").alias("x"))
    with _conf(spark, "spark.sql.autoBroadcastJoinThreshold", "1"):
        pinned = pin_keyed(df, ["v"])
    assert sorted(map(tuple, pinned.collect())) == \
        sorted(map(tuple, df.collect()))


def test_pin_compile_leaves_session_aqe_alone(spark):
    """The pinned compile must not toggle the CALLER session's AQE conf
    (ADVICE r10: the old session-global toggle silently disabled AQE
    for queries compiled concurrently on other threads). The compile
    runs in a cloned session, so a concurrent reader of the session
    conf must observe 'true' throughout."""
    import threading
    import time

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    df = spark.range(20000).select(F.col("id").alias("v"))
    seen: list[str] = []
    stop = threading.Event()

    def watch():
        while not stop.is_set():
            v = spark.conf.get("spark.sql.adaptive.enabled")
            if v != "true":
                seen.append(v)
            time.sleep(0.001)

    t = threading.Thread(target=watch, daemon=True)
    t.start()
    try:
        for _ in range(3):
            pinned = pin_partitioned(df, ["v"])
            assert "hashpartitioning(v" in _formatted(pinned)
    finally:
        stop.set()
        t.join(timeout=10)
    assert seen == [], f"session AQE conf was observed toggled: {seen}"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_pin_clone_compile_is_primary_path(spark):
    """_checkpoint_keep_layout (the no-toggle clone compile) must work
    against this Spark version's internals — it is the only path: every
    pin goes through it, and a failing clone compile raises."""
    from mousedatapipeline_spark.tables import _checkpoint_keep_layout

    df = spark.range(1000).select(F.col("id").alias("v"))
    ck = _checkpoint_keep_layout(df.repartition(4, "v")
                                 .sortWithinPartitions("v"))
    plan = _formatted(ck)
    assert "hashpartitioning(v" in plan
    assert sorted(r.v for r in ck.collect()) == list(range(1000))


def test_pin_keyed_unpersists_intermediate(spark):
    """On the pin path the raw eager checkpoint must be unpersisted
    once the re-pinned copy exists (ADVICE r10: otherwise the edge
    list is resident twice at exactly the scale where the pin
    engages)."""
    df = spark.range(5000).select(F.col("id").alias("v"))
    jsc = spark.sparkContext._jsc.sc()

    def cached_rdd_ids():
        return {info.id() for info in jsc.getRDDStorageInfo()}

    before = cached_rdd_ids()
    with _conf(spark, "spark.sql.autoBroadcastJoinThreshold", "1"):
        pinned = pin_keyed(df, ["v"])
    pinned_rid = pinned._jdf.queryExecution().analyzed().rdd().id()
    new = cached_rdd_ids() - before
    assert pinned_rid in new
    # the raw intermediate checkpoint must be gone (only the pinned
    # copy of this frame may remain cached)
    assert new == {pinned_rid}, new


@pytest.mark.parametrize("edges,expect", [
    ([(i, i + 1) for i in range(1, 8)], {i: 1 for i in range(1, 9)}),
    ([(2, 1), (2, 3), (7, 8)],
     {1: 1, 2: 1, 3: 1, 7: 7, 8: 7, 4: 4, 5: 5, 6: 6}),
])
def test_cc_identical_under_forced_pin(spark, edges, expect):
    """connected_components under the forced-scale regime (pin engaged,
    broadcast off, SMJ rounds over the pinned layout) must equal the
    local regime's answer."""
    nodes = sorted(expect)
    ndf = spark.createDataFrame([(n,) for n in nodes], ["id"])
    edf = spark.createDataFrame(edges, "a: bigint, b: bigint")

    local = {r.id: r.component_id
             for r in connected_components(ndf, edf, "id", "a", "b")
             .collect()}
    with _conf(spark, "spark.sql.autoBroadcastJoinThreshold", "1"):
        forced = {r.id: r.component_id
                  for r in connected_components(ndf, edf, "id", "a", "b")
                  .collect()}
    assert local == expect
    assert forced == expect


def test_cc_keeps_id_type_under_both_regimes(spark):
    """The driver solve types its labels like the edge list, so an
    ``int`` graph yields ``int`` ids in both regimes."""
    ndf = spark.createDataFrame([(n,) for n in range(1, 7)], "id: int")
    edf = spark.createDataFrame([(1, 2), (2, 3), (5, 4)], "a: int, b: int")

    def run():
        out = connected_components(ndf, edf, "id", "a", "b")
        return out.dtypes, sorted(map(tuple, out.collect()))

    local = run()
    with _conf(spark, "spark.sql.autoBroadcastJoinThreshold", "1"):
        forced = run()
    assert local[0] == [("id", "int"), ("component_id", "int")]
    assert local == forced
