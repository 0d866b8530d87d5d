"""s14's exact-dedup-first funnel (round 10): identical (lang, source,
text) rows collapse to a representative BEFORE the quadratic pair
enumeration, exact groups contribute a linear star that BYPASSES the
degree cap, and the resulting components equal the brute-force
transitive closure of the full 0.6-Jaccard graph wherever the cap is a
no-op.

These tests build tiny documents.parquet corpora on disk and run the
REGISTERED s14 (the exact plan the driver gates), checking its output
against a pure-Python union-find oracle — independent of both Spark
and DuckDB.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mousedatapipeline_spark.plans import catalog


def _write_docs(spark, tmp_path, rows):
    """rows: (doc_id, text, lang, source). Writes the documents table
    shape (incl. n_chars) the loaders expect."""
    df = spark.createDataFrame(
        [(i, t, la, so, len(t)) for i, t, la, so in rows],
        "doc_id: bigint, text: string, lang: string, source: string,"
        " n_chars: bigint")
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def _shingles(t):
    return {t[i:i + 3] for i in range(len(t) - 2)}


def _python_components(rows):
    """Union-find over the FULL (uncapped) 0.6-Jaccard graph within
    (lang, source) blocks — the semantics s14 must reproduce wherever
    the degree cap is a no-op (equal-Jaccard cliques stay connected
    under the cap, so exact-duplicate mass never changes components).
    """
    parent = {i: i for i, *_ in rows}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for i, (d1, t1, l1, s1) in enumerate(rows):
        for d2, t2, l2, s2 in rows[i + 1:]:
            if (l1, s1) != (l2, s2):
                continue
            sh1, sh2 = _shingles(t1), _shingles(t2)
            if not sh1 or not sh2:
                continue
            inter = len(sh1 & sh2)
            if inter / (len(sh1) + len(sh2) - inter) >= 0.6:
                union(d1, d2)
    comp = {d: find(d) for d, *_ in rows}
    sizes = {}
    for c in comp.values():
        sizes[c] = sizes.get(c, 0) + 1
    return comp, sizes


def _run_s14(spark, sf_dir):
    out = catalog.all_queries()["s14_neardup_components"].spark(
        spark, sf_dir)
    return {r.doc_id: (r.component_id, r.n_members, r.is_canonical)
            for r in out.collect()}


def test_star_bypasses_degree_cap(spark, tmp_path):
    # One text duplicated 70x — wider than MAX_NEARDUP_DEGREE=64. The
    # funnel's star is linear and NEVER capped, so the whole group
    # must land in one component; the pre-funnel plan relied on the
    # equal-jaccard-clique argument, the funnel makes it structural.
    from mousedatapipeline_spark.plans.similarity_queries import (
        MAX_NEARDUP_DEGREE,
    )
    n = MAX_NEARDUP_DEGREE + 6
    rows = [(i, "the quick brown fox jumps over the lazy dog", "en",
             "web") for i in range(n)]
    rows += [(100 + i, f"completely unrelated text number {i} padding",
              "en", "web") for i in range(3)]
    got = _run_s14(spark, _write_docs(spark, tmp_path, rows))
    assert all(got[i] == (0, n, int(i == 0)) for i in range(n))
    # the three near-identical "unrelated" fillers form their own
    # cluster (they differ by one digit), never joined to the dup group
    assert got[100][0] == 100 and got[100][1] == 3


def test_components_match_python_union_find(spark, tmp_path):
    # Mixed corpus: exact-dup groups (incl. one SHORT text group with
    # no shingles -> must stay singletons), a near-dup chain that
    # crosses an exact group (member-level edges must transfer to the
    # rep graph), and (lang, source) block isolation.
    rows = [
        (1, "abcdefghij klmnopqrst uvwxyz now", "en", "web"),
        (2, "abcdefghij klmnopqrst uvwxyz now", "en", "web"),   # dup of 1
        (3, "abcdefghij klmnopqrst uvwxyz nov", "en", "web"),   # near-dup
        (4, "abcdefghij klmnopqrst uvwxyz now", "en", "books"), # other block
        (5, "zz", "en", "web"),                                  # short
        (6, "zz", "en", "web"),                                  # short dup
        (7, "totally different content here ok", "en", "web"),
        (8, "totally different content here ok", "fr", "web"),  # other lang
    ]
    want_comp, want_sizes = _python_components(rows)
    # sanity on the oracle itself: 1-2 exact + 3 near-dup -> {1,2,3};
    # 5/6 are identical but shingle-free (len < 3 -> no Jaccard edge
    # in the full graph, and the funnel's star requires length >= 3),
    # so they stay singletons even though their texts are equal
    assert want_comp[2] == 1 and want_comp[3] == 1
    assert want_comp[5] == 5 and want_comp[6] == 6
    assert want_sizes == {1: 3, 4: 1, 5: 1, 6: 1, 7: 1, 8: 1}
    got = _run_s14(spark, _write_docs(spark, tmp_path, rows))
    for d, (c, n, canon) in got.items():
        assert c == want_comp[d], (d, c, want_comp[d])
        assert n == want_sizes[want_comp[d]]
        assert canon == int(d == c)


def test_duplicate_mass_never_reaches_enumeration(spark, tmp_path):
    # Structural scale contract: with K replicas of a fixed distinct
    # corpus, the pair enumeration runs over DISTINCT texts only, so
    # the edge surface (pre-star) is independent of K. Verified by
    # counting rep-graph pairs via the factored stage on the funnel's
    # own survivor frame vs the distinct corpus.
    from mousedatapipeline_spark.plans.similarity_queries import (
        exact_jaccard_edges,
    )
    distinct = [
        (0, "abcdefghij klmnopqrst uvwxyz now", "en", "web"),
        (1, "abcdefghij klmnopqrst uvwxyz nov", "en", "web"),
        (2, "totally different content here ok", "en", "web"),
    ]
    for k in (1, 5):
        rows = [(100 * r + i, t, la, so)
                for r in range(k) for i, t, la, so in distinct]
        docs = spark.createDataFrame(
            [(i, t, la, so) for i, t, la, so in rows],
            "doc_id: bigint, text: string, lang: string, source: string")
        reps = (docs.groupBy("lang", "source", "text")
                .agg(F.min("doc_id").alias("doc_id")))
        pairs = exact_jaccard_edges(reps, redistribute=4).count()
        assert pairs == 1, f"K={k}: rep-graph pairs must be flat"
