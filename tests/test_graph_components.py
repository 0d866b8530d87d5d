"""Connected-components semantics: path graphs (pointer-jumping
exercise), isolated nodes, multi-component graphs, and determinism
under repartitioning."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mousedatapipeline_spark.operators.graph import connected_components


def _cc(spark, nodes, edges, **kw):
    ndf = spark.createDataFrame([(n,) for n in nodes], ["id"])
    edf = spark.createDataFrame(edges or [(None, None)],
                                "a: bigint, b: bigint")
    if not edges:
        edf = edf.filter(F.lit(False))
    out = connected_components(ndf, edf, "id", "a", "b", **kw)
    return {r.id: r.component_id for r in out.collect()}


def test_path_graph_collapses_to_min(spark):
    # 1-2-3-4-5-6-7-8: diameter 7, pointer jumping needs ~log2(8) rounds
    edges = [(i, i + 1) for i in range(1, 8)]
    got = _cc(spark, range(1, 9), edges)
    assert got == {i: 1 for i in range(1, 9)}


def test_two_components_and_singletons(spark):
    got = _cc(spark, [1, 2, 3, 10, 11, 99], [(2, 1), (2, 3), (11, 10)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_no_edges_all_singletons(spark):
    got = _cc(spark, [5, 6, 7], [])
    assert got == {5: 5, 6: 6, 7: 7}


def test_partitioning_invariance(spark):
    edges = [(i, i + 1) for i in range(1, 40, 2)]  # 20 two-node comps
    ndf = spark.createDataFrame([(n,) for n in range(1, 41)], ["id"]) \
        .repartition(13)
    edf = spark.createDataFrame(edges, "a: bigint, b: bigint") \
        .repartition(7)
    out = connected_components(ndf, edf, "id", "a", "b")
    got = {r.id: r.component_id for r in out.collect()}
    assert got == {i: i - (1 - i % 2) for i in range(1, 41)}


def test_nonconvergence_raises(spark):
    ndf = spark.createDataFrame([(i,) for i in range(1, 9)], ["id"])
    edf = spark.createDataFrame([(i, i + 1) for i in range(1, 8)],
                                "a: bigint, b: bigint")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(ndf, edf, "id", "a", "b", max_iter=1)


def test_local_regime_job_budget(spark):
    """Below the broadcast threshold the components are solved on the
    driver: the edge-list checkpoint and one Arrow collect inside
    connected_components, then the caller's collect — one job for the
    labels' broadcast into the singleton anti-join (Spark collects
    even a LocalTableScan build side through a job) and one for the
    result. The distributed loop paid ~8 jobs per round; sub-job creep
    on this path fails here."""
    sc = spark.sparkContext
    ndf = spark.createDataFrame([(i,) for i in range(1, 31)], ["id"])
    edf = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 16)] + [(20, 25), (25, 21)],
        "a: bigint, b: bigint")
    group = "cc-job-budget"

    def jobs():
        return len(sc.statusTracker().getJobIdsForGroup(group))

    sc.setJobGroup(group, "connected_components job budget")
    try:
        out = connected_components(ndf, edf, "id", "a", "b")
        inside = jobs()
        got = {r.id: r.component_id for r in out.collect()}
        total = jobs()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert got[16] == 1 and got[25] == 20 and got[30] == 30
    assert inside <= 2, inside
    assert total <= 4, total


# --- orient_by_degree (s27's wedge-bound guard) ----------------------------

def _orient(spark, edges):
    from mousedatapipeline_spark.operators.graph import orient_by_degree
    edf = spark.createDataFrame(edges, "d1: bigint, d2: bigint")
    return [(r.d1, r.d2) for r in orient_by_degree(edf).collect()]


def test_orient_star_hub_has_zero_outdegree(spark):
    # Star with LOW-id hub 0: id orientation gives the hub out-degree n
    # (the unbounded-fan-out failure mode); degree orientation must
    # point every edge INTO the hub (leaves have degree 1 < hub's n).
    n = 8
    got = _orient(spark, [(0, i) for i in range(1, n + 1)])
    assert sorted(got) == [(i, 0) for i in range(1, n + 1)]


def test_orient_is_degree_id_total_order(spark):
    # Mixed graph: triangle + pendant. Degrees: 1:3, 2:2, 3:2, 4:1.
    edges = [(1, 2), (1, 3), (2, 3), (4, 1)]
    got = _orient(spark, edges)
    deg = {1: 3, 2: 2, 3: 2, 4: 1}
    assert len(got) == len(edges)
    for u, v in got:
        assert (deg[u], u) < (deg[v], v)
    # Same undirected edge set in and out.
    assert {frozenset(e) for e in got} == {frozenset(e) for e in edges}


def test_orient_triangle_count_invariant(spark):
    # Wedge-join triangle count over oriented edges equals the known
    # count regardless of orientation scheme: K4 has 4 triangles.
    edges = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    from mousedatapipeline_spark.operators.graph import orient_by_degree
    edf = spark.createDataFrame(edges, "d1: bigint, d2: bigint")
    o = orient_by_degree(edf)
    e1 = o.select(F.col("d1").alias("a"), F.col("d2").alias("b"))
    e2 = o.select(F.col("d1").alias("b"), F.col("d2").alias("c"))
    e3 = o.select(F.col("d1").alias("a"), F.col("d2").alias("c"))
    assert e1.join(e2, "b").join(e3, ["a", "c"]).count() == 4


def test_orient_rejects_incomplete_degrees_table(spark):
    # A stale degrees table missing an endpoint must FAIL loudly, not
    # silently drop the edge.
    from pyspark.sql import functions as F2

    from mousedatapipeline_spark.operators.graph import orient_by_degree
    edf = spark.createDataFrame([(1, 2), (2, 3)], "d1: bigint, d2: bigint")
    partial = spark.createDataFrame([(1, 1), (2, 2)], "v: bigint, deg: bigint")
    with pytest.raises(Exception, match="does not cover"):
        orient_by_degree(edf, degrees=partial).collect()


def test_s40_pagerank_conserves_mass_and_matches_numpy(spark):
    """s40 on the sf0.001 corpus: (a) rank mass is conserved (the
    symmetric edge set has no dangling nodes, so sum(r_k) == 1 up to
    float error at every iteration); (b) the 3-iteration ranks match
    an independent dense numpy power-iteration on the same edge set."""
    import numpy as np

    from mousedatapipeline_spark.plans.similarity_queries import (
        s19_lsh_verified_neardup, s40_neardup_pagerank)

    sf = "/root/testdata/sf0.001"
    got = {r.doc_id: (r.degree, r.pagerank)
           for r in s40_neardup_pagerank(spark, sf).collect()}
    assert got, "sf0.001 corpus must produce a non-empty dup graph"
    # Output ranks are stable_round(6)-ed: each node contributes up
    # to 5.001e-7 of rounding error to the conserved-mass sum.
    assert abs(sum(r for _, r in got.values()) - 1.0) < 5.1e-7 * len(got)

    pairs = [(r.d1, r.d2) for r in
             s19_lsh_verified_neardup(spark, sf).select("d1", "d2")
             .collect()]
    nodes = sorted({d for p in pairs for d in p})
    idx = {d: i for i, d in enumerate(nodes)}
    n = len(nodes)
    a = np.zeros((n, n))
    for d1, d2 in pairs:
        a[idx[d1], idx[d2]] = 1.0
        a[idx[d2], idx[d1]] = 1.0
    outdeg = a.sum(axis=1)
    assert (outdeg > 0).all()
    r = np.full(n, 1.0 / n)
    for _ in range(3):
        r = 0.15 / n + 0.85 * (a.T @ (r / outdeg))
    for d in nodes:
        assert got[d][0] == int(outdeg[idx[d]])
        assert abs(got[d][1] - r[idx[d]]) < 5.1e-7, d
    # Hubs outrank leaves: the max-degree node beats the min-degree one.
    hub = max(nodes, key=lambda d: got[d][0])
    leaf = min(nodes, key=lambda d: got[d][0])
    if got[hub][0] > got[leaf][0]:
        assert got[hub][1] > got[leaf][1]


def test_s43_label_propagation_matches_python_reference(spark):
    """s43 equals a plain-Python synchronous LPA over the same edge set
    (3 rounds, majority label, count-then-smaller-label tie-break),
    and every community is contained in one s14/CC component (LPA only
    refines connectivity, never merges across components)."""
    from mousedatapipeline_spark.plans.similarity_queries import (
        s19_lsh_verified_neardup, s43_label_propagation)

    sf = "/root/testdata/sf0.001"
    pairs = [(r.d1, r.d2) for r in
             s19_lsh_verified_neardup(spark, sf).select("d1", "d2")
             .collect()]
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    lab = {v: v for v in adj}
    for _ in range(3):
        nxt = {}
        for v, ns in adj.items():
            cnt = {}
            for u in ns:
                cnt[lab[u]] = cnt.get(lab[u], 0) + 1
            nxt[v] = min(cnt, key=lambda c: (-cnt[c], c))
        lab = nxt
    expect = {}
    for v, c in lab.items():
        n, mn, mx = expect.get(c, (0, v, v))
        expect[c] = (n + 1, min(mn, v), max(mx, v))
    got = {r.community: (r.n_members, r.min_member, r.max_member)
           for r in s43_label_propagation(spark, sf).collect()}
    assert got == expect
    # Containment in CC components: union-find over the same edges.
    parent = {v: v for v in adj}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    comp_of_label_members = {}
    for v, c in lab.items():
        comp_of_label_members.setdefault(c, set()).add(find(v))
    for c, comps in comp_of_label_members.items():
        assert len(comps) == 1, c
