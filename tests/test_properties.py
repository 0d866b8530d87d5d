"""Property-based tests (hypothesis): the guard/sentinel semantics and
cross-engine determinism hold over the whole input domain, not just
hand-picked cases. Spark expressions are exercised through a single
cached session; each property batches its examples into ONE DataFrame
so hypothesis's many examples cost one Spark job."""

from __future__ import annotations

import math
from contextlib import contextmanager

import duckdb
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mousedatapipeline_spark.functions import physics
from mousedatapipeline_spark.functions.rounding import (
    stable_round,
    stable_round_sql,
)

finite = st.floats(allow_nan=False, allow_infinity=False,
                   min_value=-1e12, max_value=1e12)
small = st.floats(allow_nan=False, allow_infinity=False,
                  min_value=-1e6, max_value=1e6)


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(finite, min_size=1, max_size=30))
def test_stable_round_cross_engine(spark, xs):
    rows = spark.createDataFrame([(x,) for x in xs], "v double").select(
        stable_round(F.col("v")).alias("r")).collect()
    con = duckdb.connect()
    sql = stable_round_sql("?::DOUBLE")
    n_params = sql.count("?")
    for x, row in zip(xs, rows):
        d = con.execute(f"SELECT {sql}", [x] * n_params).fetchone()[0]
        s = row["r"]
        assert s == d or (math.isnan(s) and math.isnan(d)), (x, s, d)


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.tuples(small, small), min_size=1, max_size=30))
def test_thickness_guard_domain(spark, pairs):
    """P8: invalid inputs give EXACTLY the -1.0 sentinel; valid inputs
    give the closed form t = -sign(a)·ln(1-|a|)/mu — including the
    reference's own overflow behavior (subnormal mu -> +inf passes the
    mu > 0 guard there too; defensive PARITY, not extra safety)
    (src/processstep_thickness_from_absorption.py:36-52)."""
    df = spark.createDataFrame(pairs, "a double, mu double")
    rows = df.select(
        "a", "mu",
        physics.thickness_from_absorption(F.col("a"), F.col("mu"))
        .alias("t")).collect()
    for r in rows:
        t, a, mu = r["t"], r["a"], r["mu"]
        valid = mu > 0 and 0 < abs(a) <= 1
        if not valid:
            assert t == -1.0, (a, mu, t)
        else:
            expect = -math.copysign(1.0, a) * math.log(1.0 - abs(a)) / mu
            if math.isfinite(expect):
                assert t == pytest.approx(expect, rel=1e-9), (a, mu, t)
            else:
                assert t == expect, (a, mu, t)  # inf parity


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.tuples(small, st.one_of(st.none(), small)),
                min_size=1, max_size=30))
def test_apply_tcf_gate(spark, pairs):
    """P13: transmission changes iff tcf > 1; NULL tcf is a no-op."""
    df = spark.createDataFrame(pairs, "t double, tcf double")
    rows = df.select(
        "t", "tcf",
        physics.apply_tcf(F.col("t"), F.col("tcf")).alias("out")).collect()
    for r in rows:
        if r["tcf"] is not None and r["tcf"] > 1:
            assert r["out"] == pytest.approx(r["t"] * r["tcf"])
        else:
            assert r["out"] == r["t"]


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.floats(min_value=-1e6, max_value=1e6,
                          allow_nan=False), min_size=2, max_size=50))
def test_stack_stats_matches_numpy_property(spark, vals):
    import numpy as np

    from mousedatapipeline_spark.operators.aggregates import stack_stats

    df = spark.createDataFrame([("k", v) for v in vals], "k string, v double")
    row = stack_stats(df, ["k"], "v").collect()[0]
    assert row["count"] == len(vals)
    assert row["mean"] == pytest.approx(float(np.mean(vals)), rel=1e-9,
                                        abs=1e-9)
    expected_std = float(np.std(vals, ddof=1))
    assert row["std"] == pytest.approx(expected_std, rel=1e-6, abs=1e-6)


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.integers(min_value=0, max_value=10), min_size=1,
                max_size=40),
       st.integers(min_value=1, max_value=5))
def test_sessionize_session_count_invariant(spark, gaps, gap_limit):
    """Session count == 1 + number of gaps exceeding the limit,
    regardless of partitioning."""
    from datetime import datetime, timedelta

    from mousedatapipeline_spark.operators.windows import sessionize

    ts, times = datetime(2024, 1, 1), []
    for g in gaps:
        ts += timedelta(seconds=g)
        times.append(ts)
    df = spark.createDataFrame(
        [(1, t, i) for i, t in enumerate(times)],
        "user_id int, ts timestamp, eid int").repartition(3)
    out = sessionize(df, "user_id", "ts", gap_seconds=gap_limit,
                     tiebreak="eid")
    n_sessions = out.groupBy("user_id").agg(
        F.max("session_seq").alias("n")).collect()[0]["n"]
    expected = 1 + sum(1 for g in gaps[1:] if g > gap_limit)
    assert n_sessions == expected


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.tuples(st.integers(0, 24), st.integers(0, 24)),
                min_size=0, max_size=40))
def test_connected_components_matches_union_find(spark, edges):
    """Distributed CC == a driver-side union-find on the same graph."""
    from mousedatapipeline_spark.operators.graph import (
        connected_components,
    )
    nodes = list(range(25))
    parent = list(nodes)

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {n: find(n) for n in nodes}

    ndf = spark.createDataFrame([(n,) for n in nodes], "id: bigint")
    edf = spark.createDataFrame(edges or [(0, 0)], "a: bigint, b: bigint")
    if not edges:
        edf = edf.filter(F.lit(False))
    got = {r.id: r.component_id
           for r in connected_components(ndf, edf, "id", "a", "b")
           .collect()}
    assert got == expect


@contextmanager
def _conf(spark, key, value):
    prev = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, prev)


@st.composite
def _graphs(draw):
    """(nodes, edges): a long chain in shuffled id order, random extra
    edges, self-loops and duplicated edges over sparse (also negative)
    ids, plus nodes that never appear in an edge."""
    ids = draw(st.lists(st.integers(-1000, 10**6), min_size=1,
                        max_size=40, unique=True))
    chain = draw(st.permutations(ids))[:draw(st.integers(0, len(ids)))]
    pick = st.sampled_from(ids)
    extra = draw(st.lists(st.tuples(pick, pick), max_size=12))
    loops = [(x, x) for x in draw(st.lists(pick, max_size=3))]
    edges = list(zip(chain, chain[1:])) + extra + loops
    edges += draw(st.lists(st.sampled_from(edges), max_size=4)) \
        if edges else []
    isolated = draw(st.lists(st.integers(2 * 10**6, 3 * 10**6),
                             min_size=1, max_size=3, unique=True))
    return ids + isolated, edges


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_graphs())
def test_cc_driver_solve_equals_distributed_loop(spark, graph):
    """The driver-side solve (local default: the edge list fits the
    broadcast threshold) and the distributed loop (forced with a 1-byte
    threshold) give the identical (node, min member id) map."""
    from mousedatapipeline_spark.operators.graph import (
        connected_components,
    )
    nodes, edges = graph
    ndf = spark.createDataFrame([(n,) for n in nodes], "id: bigint")
    edf = spark.createDataFrame(edges or [(0, 0)], "a: bigint, b: bigint")
    if not edges:
        edf = edf.filter(F.lit(False))

    def labels():
        return {r.id: r.component_id
                for r in connected_components(ndf, edf, "id", "a", "b")
                .collect()}

    driver = labels()
    with _conf(spark, "spark.sql.autoBroadcastJoinThreshold", "1"):
        loop = labels()
    assert driver == loop
    comp = {n: {n} for n in nodes}
    for a, b in edges:
        merged = comp[a] | comp[b]
        for x in merged:
            comp[x] = merged
    assert driver == {n: min(comp[n]) for n in nodes}


_BASES = ("the quick brown fox jumps over the lazy dog",
          "pack my box with five dozen liquor jugs",
          "çà et là, über straße — 日本語のテキスト 😀𝒜 emoji")
_CLIQUE_TEXT = "sphinx of black quartz, judge my vow"


@st.composite
def _corpora(draw):
    """(doc_id, lang, text) rows for the LSH funnel: exact and near
    copies of a few bases (multi-byte and supplementary codepoints
    included), docs under 3 chars and null texts, several langs and
    null langs, null and repeated doc_ids (a repeated id appears at
    most twice among at most 19 such rows, so no node reaches the
    degree cap and the distributed rank is deterministic), and
    optionally an equal-Jaccard clique of unique ids larger than
    MAX_NEARDUP_DEGREE."""
    from mousedatapipeline_spark.plans.similarity_queries import (
        MAX_NEARDUP_DEGREE,
    )
    edit = st.tuples(st.integers(0, 60), st.text(max_size=3))

    def text():
        kind = draw(st.sampled_from(("copy", "near", "short", "null")))
        if kind == "short":
            return draw(st.text(max_size=2))
        if kind == "null":
            return None
        base = draw(st.sampled_from(_BASES))
        if kind == "copy":
            return base
        for pos, ins in draw(st.lists(edit, min_size=1, max_size=3)):
            base = base[:pos] + ins + base[pos + len(ins):]
        return base

    ids = draw(st.lists(st.integers(0, 40), max_size=16, unique=True))
    ids += draw(st.lists(st.sampled_from(ids), max_size=3, unique=True)) \
        if ids else []
    ids += [None] * draw(st.integers(0, 2))
    lang = st.sampled_from(("en", "de", "fr", None))
    rows = [(i, draw(lang), text()) for i in ids]
    if draw(st.booleans()):
        n = MAX_NEARDUP_DEGREE + draw(st.integers(2, 6))
        rows += [(1000 + k, "en", _CLIQUE_TEXT) for k in range(n)]
    return draw(st.permutations(rows))


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_corpora())
@example(docs=[])
def test_lsh_driver_regime_equals_distributed(spark, monkeypatch, docs):
    """lsh_verified_edges solved on the driver (the hashed corpus and
    its bucket pairs fit the broadcast threshold) and by the
    distributed plan (forced with a 1-byte threshold) return the same
    rows and schema."""
    from mousedatapipeline_spark.plans import similarity_queries as SQ

    solved = []
    driver = SQ._driver_lsh_edges
    monkeypatch.setattr(SQ, "_driver_lsh_edges",
                        lambda *a: solved.append(1) or driver(*a))
    d = spark.createDataFrame(docs, "doc_id bigint, lang string, "
                                    "text string")

    def edges():
        out = SQ.lsh_verified_edges(d)
        return out.schema, sorted(map(tuple, out.collect()))

    with _conf(spark, "spark.sql.autoBroadcastJoinThreshold", "64MB"):
        on_driver = edges()
    assert solved == [1]
    with _conf(spark, "spark.sql.autoBroadcastJoinThreshold", "1"):
        distributed = edges()
    if any(t is not None and len(t) >= 3 for _, _, t in docs):
        assert solved == [1]  # a non-empty checkpoint never fits 1 byte
    assert on_driver == distributed


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.tuples(st.integers(0, 30), st.integers(0, 4),
                          st.floats(-100, 100, allow_nan=False)),
                min_size=0, max_size=40, unique_by=lambda t: t[0]),
       st.lists(st.tuples(st.integers(0, 30), st.integers(0, 4),
                          st.floats(-100, 100, allow_nan=False)),
                min_size=0, max_size=40, unique_by=lambda t: t[0]))
def test_incremental_agg_merge_equals_direct(spark, old_rows, new_rows):
    """old_agg (+) cdc_delta == direct aggregation of the new snapshot,
    for arbitrary keyed snapshots (incl. empty ones)."""
    from mousedatapipeline_spark.operators.aggregates import (
        incremental_agg_merge,
    )
    schema = "k: bigint, g: bigint, v: double"
    old = spark.createDataFrame(old_rows or [(0, 0, 0.0)], schema)
    new = spark.createDataFrame(new_rows or [(0, 0, 0.0)], schema)
    if not old_rows:
        old = old.filter(F.lit(False))
    if not new_rows:
        new = new.filter(F.lit(False))
    got = {r.g: (r.n_rows, float(r.sum_value)) for r in
           incremental_agg_merge(old, new, "k", "g", "v").collect()}
    direct = {r.g: (r.n, float(r.s)) for r in
              new.groupBy("g").agg(
                  F.count("*").alias("n"),
                  F.sum(F.col("v").cast("decimal(30,10)")).alias("s"))
              .collect()}
    assert got == direct


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.integers(min_value=-10**12, max_value=10**12),
                min_size=1, max_size=120),
       st.lists(st.floats(min_value=0.01, max_value=1.0,
                          allow_nan=False), min_size=1, max_size=4),
       st.sampled_from([2, 7, 64]))
def test_bucketed_exact_quantiles_property(spark, vals, qs, n_buckets):
    """For any int multiset, any quantile set, any bucket granularity:
    the bucketed two-pass must equal nearest-rank selection on the
    sorted list (ties, negatives, huge spans, n < n_buckets included).
    """
    from mousedatapipeline_spark.operators.aggregates import (
        bucketed_exact_quantiles,
    )
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    pairs = [(q, f"p{i}") for i, q in enumerate(qs)]
    row = bucketed_exact_quantiles(df, "v", pairs,
                                   n_buckets=n_buckets).collect()[0]
    s = sorted(vals)
    assert row["n"] == len(vals)
    for q, a in pairs:
        expect = s[max(min(math.ceil(q * len(s)), len(s)), 1) - 1]
        assert row[a] == expect, (q, n_buckets, row[a], expect)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126),
    min_size=0, max_size=24), min_size=1, max_size=6))
def test_hashed_shingle_docs_equals_string_path_property(spark, texts):
    """For arbitrary printable-ascii docs, the hash-at-position scan
    equals hashing the distinct string shingle set (up to hash
    collisions, which array_distinct on hashes and on strings see
    identically iff the hash is injective on the doc's shingles —
    asserted here as set equality of the hash MULTISETS, the exact
    quantity every consumer uses)."""
    from mousedatapipeline_spark.operators import similarity as S

    df = spark.createDataFrame(
        [(i, "en", t) for i, t in enumerate(texts)],
        "doc_id long, lang string, text string")
    got = {r["doc_id"]: sorted(r["hs"])
           for r in S.hashed_shingle_docs(df).collect()}
    want = {}
    for r in (df.filter(F.length("text") >= 3)
              .select("doc_id",
                      S.shingle_set_col(F.col("text")).alias("ss"))
              .select("doc_id",
                      F.array_distinct(
                          F.transform("ss", S.shingle_hash)).alias("hs"))
              .collect()):
        want[r["doc_id"]] = sorted(r["hs"])
    assert got == want


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.integers(min_value=0,
                            max_value=9_223_372_036_854_775_807),
                min_size=1, max_size=8))
def test_e22_weights_col_equals_scalar_property(spark, ids):
    """The staged bootstrap-weight array equals the per-replica scalar
    form for arbitrary non-negative event ids, including ids that
    would wrap the naive (unreduced) hash."""
    from mousedatapipeline_spark.plans.events_queries import (
        _E22_B, _e22_weight, _e22_weights_col)

    df = spark.createDataFrame([(i,) for i in set(ids)],
                               "event_id: bigint")
    arr = {r["event_id"]: r["wts"] for r in
           df.select("event_id",
                     _e22_weights_col().alias("wts")).collect()}
    scalar = {r["event_id"]: r["wts"] for r in
              df.select("event_id", F.array(
                  *[_e22_weight(k) for k in range(_E22_B)])
                  .alias("wts")).collect()}
    assert arr == scalar


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.tuples(st.sampled_from(["a", "b", "c"]),
                          st.integers(min_value=1, max_value=60_000)),
                min_size=1, max_size=24),
       st.lists(st.integers(min_value=0, max_value=23),
                min_size=0, max_size=3))
def test_w15_carry_forward_pack_equals_single_shot(
        spark, tmp_path_factory, sizes, raw_cuts):
    """The streaming carry-forward merge over ANY split of a manifest
    into ordered batches equals the single-shot c05 pack: same bins,
    same per-bin aggregates (greedy running-sum packing is
    prefix-decomposable). Random manifests include files larger than
    the 16384-byte target (bin-skipping) and random batch boundaries
    (including empty batches via duplicate cuts)."""
    from pathlib import Path

    from mousedatapipeline_spark.plans.curation_queries import _C05_TARGET
    from mousedatapipeline_spark.plans.streaming_queries import (
        _W15_BIN_SCHEMA,
        _W15_FOLD,
    )

    manifest = [(src, i + 1, sz)
                for i, (src, sz) in enumerate(sizes)]
    cuts = sorted({min(c, len(manifest)) for c in raw_cuts})
    bounds = [0] + cuts + [len(manifest)]
    state = Path(tmp_path_factory.mktemp("w15prop"))
    (state / "closed").mkdir()
    (state / "open").mkdir()
    schema = "source string, file_id long, sz long"
    for bi, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        chunk = manifest[lo:hi] or None
        b = (spark.createDataFrame(chunk, schema) if chunk
             else spark.createDataFrame([], schema))
        _W15_FOLD.step(b, bi, state)
    closed = spark.read.schema(_W15_BIN_SCHEMA).parquet(
        *[str(p) for p in sorted((state / "closed").glob("v*"))])
    open_df = spark.read.parquet(
        str(sorted((state / "open").glob("v*"))[-1])).select(
        "source", "bin", "n", "tot", "mn", "mx")
    got = {(r.source, r.bin): (r.n, r.tot, r.mn, r.mx)
           for r in closed.unionByName(open_df).collect()}

    expect, cum = {}, {}
    for src, fid, sz in sorted(manifest):
        c = cum.get(src, 0)
        b = c // _C05_TARGET
        n, tot, mn, mx = expect.get((src, b), (0, 0, fid, fid))
        expect[(src, b)] = (n + 1, tot + sz, min(mn, fid), max(mx, fid))
        cum[src] = c + sz
    assert got == expect


# The m05 oracle's CTE chain without the stacker: DuckDB's window max
# and ROW_NUMBER background pick, against the nostack program's one
# per-batch aggregate joined back. Every input is non-null and finite.
_NOSTACK_SQL = """
WITH j1 AS (
  SELECT m.*, lb.sample_name,
         CASE WHEN m.wavelength_nm <= 0.0 THEN 0.0
              ELSE 1.2398419843320026 / m.wavelength_nm END AS energy_kev
  FROM meas m LEFT JOIN lb ON m.ymd = lb.ymd AND m.batch = lb.batch
), prop AS (
  SELECT *,
         MAX(tcf) OVER (PARTITION BY ymd, batch) AS largest_tcf,
         MAX(scattering_prob) OVER (PARTITION BY ymd, batch)
           AS max_scatter_prob
  FROM j1
), corr AS (
  SELECT *,
         CASE WHEN largest_tcf > 1.0 THEN transmission * largest_tcf
              ELSE transmission END AS transmission_corrected
  FROM prop
), bg AS (
  SELECT ymd AS bg_ymd, batch AS bg_batch, transmission_corrected AS tc_bg
  FROM (SELECT *, ROW_NUMBER() OVER (
          PARTITION BY ymd, batch
          ORDER BY repetition, transmission_corrected) AS rn
        FROM corr)
  WHERE rn = 1
), jb AS (
  SELECT c.*, bg.tc_bg,
         (c.bg_ymd = c.ymd AND c.bg_batch = c.batch) AS same_bg
  FROM corr c LEFT JOIN bg
    ON c.bg_ymd = bg.bg_ymd AND c.bg_batch = bg.bg_batch
), a AS (
  SELECT *,
         CASE WHEN tc_bg IS NOT NULL AND tc_bg <> 0.0 AND NOT same_bg
              THEN 1.0 - transmission_corrected / tc_bg
              ELSE 1.0 - transmission_corrected END AS ac
  FROM jb
)
SELECT rid, sample_name, energy_kev, largest_tcf, max_scatter_prob,
       transmission_corrected, tc_bg, same_bg, ac,
       CASE WHEN samplethickness >= 0.0 THEN samplethickness
            WHEN mu > 0.0 AND ABS(ac) > 0.0 AND ABS(ac) <= 1.0
            THEN -SIGN(ac) * LN(1.0 - ABS(ac)) / mu
            ELSE -1.0 END AS thickness
FROM a
"""

_KEYS = [("20240101", 0), ("20240101", 1), ("20240102", 1), ("20240102", 2)]
_measurement_row = st.tuples(
    st.sampled_from(_KEYS),
    st.integers(0, 2),                                    # tied repetitions
    st.floats(0.01, 1.0),                                 # transmission
    st.one_of(st.sampled_from([0.8, 1.0, 1.25]),          # TCF <= 1 and > 1
              st.floats(0.5, 1.5)),
    st.floats(0.0, 1.0),                                  # scattering prob
    # the background: the row's own batch, another batch, a missing one
    st.one_of(st.none(), st.sampled_from(_KEYS + [("20240103", 9)])),
    st.sampled_from([-1.0, 0.2]),                         # sample thickness
)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(_measurement_row, min_size=1, max_size=12))
def test_nostack_matches_duckdb_property(spark, rows):
    """The nostack program equals the oracle's window-and-ROW_NUMBER
    formulation row for row, on both sides of the per-batch table's
    broadcast gate (the session threshold, and -1: no hint)."""
    import pandas as pd

    from mousedatapipeline_spark import pipeline as P

    meas = pd.DataFrame(
        [(i, ymd, b, rep, 0.2 + i / 10, 100.0 + i, t, tcf, sp, 2.0, st_,
          *(bg or (ymd, b)))
         for i, ((ymd, b), rep, t, tcf, sp, bg, st_) in enumerate(rows)],
        columns=["rid", "ymd", "batch", "repetition", "wavelength_nm",
                 "direct_flux", "transmission", "tcf", "scattering_prob",
                 "mu", "samplethickness", "bg_ymd", "bg_batch"])
    lb = pd.DataFrame([(y, b, f"S_{b}") for y, b in _KEYS[:3]],
                      columns=["ymd", "batch", "sample_name"])
    con = duckdb.connect()
    con.register("meas", meas)
    con.register("lb", lb)
    expect = {r[0]: r[1:] for r in con.execute(_NOSTACK_SQL).fetchall()}

    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key, None)
    try:
        for threshold in (prev, "-1"):
            if threshold is not None:
                spark.conf.set(key, threshold)
            out = P.nostack_program(spark.createDataFrame(lb))(
                spark.createDataFrame(meas))
            got = {r["rid"]: r for r in out.collect()}
            assert got.keys() == expect.keys()
            for rid, (name, kev, tcf, sp, tc, tc_bg, same, ac, th) \
                    in expect.items():
                g = got[rid]
                assert (g["sample_name"], g["energy_kev"], g["largest_tcf"],
                        g["max_scatter_prob"], g["transmission_corrected"],
                        g["transmission_corrected_bg"], g["same_as_bg_bg"],
                        g["absorption_corrected"]) == (
                    name, kev, tcf, sp, tc, tc_bg, same, ac), (threshold, rid)
                assert g["thickness"] == pytest.approx(th, rel=1e-12)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
