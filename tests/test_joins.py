"""J1/J2/J3/J6 join semantics, including the as-of edge cases the
reference's mask-selection logic depends on
(src/processstep_add_mask_file.py:34-81)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mousedatapipeline_spark.operators.joins import (
    bucketed_range_join,
    salted_join,
    anti_members,
    asof_join,
    broadcast_lookup,
    semi_members,
)


def _masks(spark):
    return spark.createDataFrame(
        [(1, 100, "m100"), (1, 200, "m200"), (2, 150, "m150")],
        "config int, mask_day int, mask string")


def _meas(spark):
    return spark.createDataFrame(
        [(1, 150, "a"), (1, 200, "b"), (1, 50, "c"), (2, 500, "d"), (3, 100, "e")],
        "config int, day int, name string")


def test_asof_picks_latest_not_after(spark):
    out = {r["name"]: r["mask_asof"] for r in asof_join(
        _meas(spark), _masks(spark), ["config"], "day", "mask_day",
        ["mask"]).collect()}
    assert out["a"] == "m100"   # 150 -> nearest <= is 100
    assert out["b"] == "m200"   # equal date is inclusive (<=)
    assert out["c"] is None     # no mask dated before day 50
    assert out["d"] == "m150"
    assert out["e"] is None     # config 3 has no masks at all


def test_asof_never_selects_future_mask(spark):
    # Golden invariant: mask_ymd <= measurement ymd, always
    # (src/processstep_add_mask_file.py:69).
    rows = asof_join(_meas(spark), _masks(spark), ["config"], "day",
                     "mask_day", ["mask_day"]).collect()
    for r in rows:
        if r["mask_day_asof"] is not None:
            assert r["mask_day_asof"] <= r["day"]


def test_asof_tolerance(spark):
    out = {r["name"]: r["mask_asof"] for r in asof_join(
        _meas(spark), _masks(spark), ["config"], "day", "mask_day",
        ["mask"], tolerance=F.lit(10)).collect()}
    assert out["a"] is None       # 150-100=50 > 10
    assert out["b"] == "m200"     # exact match within tolerance


def test_load_logbook_keeps_first_match(spark, tmp_path):
    """J1's first-match contract lives in the logbook source: the
    earlier use-flagged entry of a (ymd, batch) wins over a later
    duplicate, even one that sorts lower (here on every column), and an
    entry left out by its use flag never shadows a later one. Batch
    "1.0" and "1" are one key, as Spark casts them."""
    from mousedatapipeline_spark.sources.logbook import load_logbook

    p = tmp_path / "logbook.csv"
    p.write_text(
        "ymd,batch,sample_name,use\n"
        "20240101,1,zz-first,True\n"
        "20240101,1.0,aa-later,True\n"
        "20240102,2,aa-unused,False\n"
        "20240102,2,zz-used,True\n"
        "20240102,2,aa-dupe,True\n")
    lb = load_logbook(spark, str(p))
    got = sorted((r["ymd"], r["batch"], r["sample_name"])
                 for r in lb.collect())
    assert got == [("20240101", 1, "zz-first"), ("20240102", 2, "zz-used")]
    fact = spark.createDataFrame([("20240101", 1), ("20240102", 2)],
                                 "ymd string, batch int")
    assert broadcast_lookup(fact, lb, ["ymd", "batch"]).count() == 2


def test_semi_anti_partition_manifest(spark):
    manifest = spark.createDataFrame([(1,), (2,), (3,)], "id int")
    done = spark.createDataFrame([(2,), (2,)], "id int")
    assert {r["id"] for r in anti_members(manifest, done, ["id"]).collect()} \
        == {1, 3}
    assert {r["id"] for r in semi_members(manifest, done, ["id"]).collect()} \
        == {2}


def test_bucketed_range_join_band_semantics(spark):
    """(lower, upper] inclusivity, cross-bucket matches, key isolation,
    and no duplicate pairs from the bucket fan-out."""
    us = 1_000_000
    left = spark.createDataFrame(
        [(1, 1, 0 * us)], "lid int, k int, lt long")
    right = spark.createDataFrame(
        [(1, 0 * us),        # == lower bound (exclusive) -> out
         (1, 1 * us),        # inside
         (1, 10 * us),       # == upper bound (inclusive) -> in
         (1, 11 * us),       # past upper -> out
         (2, 5 * us)],       # other key -> out
        "k int, rt long")
    got = sorted(r["rt"] for r in bucketed_range_join(
        left, right, ["k"], "lt", "rt", 0, 10 * us,
        bucket_us=3 * us).collect())
    assert got == [1 * us, 10 * us]


def test_bucketed_range_join_no_dup_across_buckets(spark):
    # window wider than bucket: each pair still appears exactly once
    left = spark.createDataFrame([(i, 1, i * 100) for i in range(20)],
                                 "lid int, k int, lt long")
    right = spark.createDataFrame([(1, j * 100) for j in range(20)],
                                  "k int, rt long")
    out = bucketed_range_join(left, right, ["k"], "lt", "rt",
                              0, 500, bucket_us=150)
    pairs = [(r["lid"], r["rt"]) for r in out.collect()]
    assert len(pairs) == len(set(pairs))
    brute = [(l, j * 100) for l in range(20) for j in range(20)
             if l * 100 < j * 100 <= l * 100 + 500]
    assert sorted(pairs) == sorted(brute)


def test_salted_join_matches_plain_join(spark):
    """Salting must be semantics-free: same rows as the unsalted join,
    each fact row matched exactly once (one replica per salt value)."""
    fact = spark.createDataFrame(
        [(i, i % 3, f"v{i}") for i in range(30)],
        "fid int, k int, payload string")
    dim = spark.createDataFrame(
        [(0, "a"), (1, "b")], "k int, attr string")  # key 2 unmatched
    got = sorted((r["fid"], r["attr"]) for r in
                 salted_join(fact, dim, ["k"], "fid", n_salts=4).collect())
    want = sorted((r["fid"], r["attr"]) for r in
                  fact.join(dim, ["k"]).collect())
    assert got == want
    left = salted_join(fact, dim, ["k"], "fid", n_salts=4, how="left")
    assert left.count() == 30          # unmatched keys survive a left join
    assert left.filter(F.col("attr").isNull()).count() == 10
