"""Edge-semantics pins for the analytics operators added on top of the
catalog queries: funnel stage machine (strict ordering, gap limit,
tie handling), cohort week arithmetic, and the Bloom filter's
no-false-negative contract."""

from __future__ import annotations

from datetime import datetime, timedelta

from mousedatapipeline_spark.operators import bloom
from mousedatapipeline_spark.operators.windows import funnel_stage

T0 = datetime(2020, 1, 1, 12, 0, 0)


def _events(spark, rows):
    return spark.createDataFrame(
        [(u, T0 + timedelta(seconds=s), t) for u, s, t in rows],
        ["user_id", "ts", "event_type"])


def _stages(spark, rows, **kw):
    df = funnel_stage(_events(spark, rows), "user_id", "ts",
                      "event_type", ("view", "click", "purchase"), **kw)
    return {r["user_id"]: r["funnel_stage"] for r in df.collect()}


def test_funnel_full_chain(spark):
    got = _stages(spark, [(1, 0, "view"), (1, 10, "click"),
                          (1, 20, "purchase")])
    assert got == {1: 3}


def test_funnel_same_timestamp_does_not_advance(spark):
    # click exactly at the view's timestamp is NOT strictly later.
    got = _stages(spark, [(1, 0, "view"), (1, 0, "click")])
    assert got == {1: 1}


def test_funnel_out_of_order_chain_stalls(spark):
    # purchase before click: stage 2 never reached, purchase can't fire.
    got = _stages(spark, [(2, 0, "view"), (2, 5, "purchase"),
                          (2, 10, "click")])
    assert got == {2: 2}


def test_funnel_gap_limit_blocks_late_stage(spark):
    got = _stages(spark, [(3, 0, "view"), (3, 90, "click")],
                  max_gap="60 SECONDS")
    assert got == {3: 1}
    got = _stages(spark, [(3, 0, "view"), (3, 30, "click")],
                  max_gap="60 SECONDS")
    assert got == {3: 2}


def test_funnel_greedy_first_match_binds(spark):
    # The FIRST view is the anchor: a click inside the gap of a later
    # view but outside the first view's gap does not advance.
    got = _stages(spark, [(4, 0, "view"), (4, 100, "view"),
                          (4, 120, "click")],
                  max_gap="60 SECONDS")
    assert got == {4: 1}


def test_funnel_no_matching_events(spark):
    got = _stages(spark, [(5, 0, "error"), (5, 1, "signup")])
    assert got == {5: 0}


def test_bloom_no_false_negatives_and_filters_misses(spark):
    keys = spark.createDataFrame(
        [(f"member-{i}",) for i in range(200)], ["k"])
    blit = bloom.bloom_bits_literal(keys, "k", bits=1 << 12, k=4)
    probes = spark.createDataFrame(
        [(f"member-{i}",) for i in range(200)]
        + [(f"outsider-{i}",) for i in range(500)], ["k"])
    hits = probes.filter(bloom.might_contain(blit, "k", bits=1 << 12, k=4))
    got = {r["k"] for r in hits.collect()}
    # Every inserted key must test positive (no false negatives)...
    assert all(f"member-{i}" in got for i in range(200))
    # ...and the pre-filter must actually discard most outsiders (the
    # FP rate at 800/4096 bits, k=4 is a few percent; 50% is a redline).
    n_fp = sum(1 for k in got if k.startswith("outsider"))
    assert n_fp < 250, n_fp


def test_bloom_empty_keyset_rejects_everything(spark):
    keys = spark.createDataFrame([], "k string")
    blit = bloom.bloom_bits_literal(keys, "k", bits=1 << 12, k=4)
    probes = spark.createDataFrame([("x",), ("y",)], ["k"])
    assert probes.filter(
        bloom.might_contain(blit, "k", bits=1 << 12, k=4)).count() == 0


def test_q44_logistic_steps_match_pure_python(spark):
    """Two fixed gradient steps + accuracy census of q44 replicated in
    pure Python over the real sf0.001 embeddings: decimal-exact
    gradient sums (DECIMAL(30,10) HALF_UP per addend), IEEE dot
    products in feature order, sigmoid via libm.  Weights are compared
    post-stable_round within one last-digit ulp (JVM Math.exp and
    CPython's libm exp may differ by 1 ulp); the integer outputs (n,
    n_correct) must be exact."""
    import math
    import os
    from decimal import ROUND_HALF_UP, Decimal

    import pytest

    sf_dir = os.environ.get("SPARK_GRAFT_SMOKE_DIR",
                            "/root/testdata/sf0.001")
    if not os.path.isdir(sf_dir):
        pytest.skip(f"no test data at {sf_dir}")
    import pyarrow.parquet as pq

    from mousedatapipeline_spark.plans.relational_queries import (
        _Q44_D,
        q44_logistic_regression_steps,
    )

    tbl = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"),
                        columns=["label", "embedding"])
    rows = [(1.0 if lb >= 5 else 0.0,
             [1.0] + [float(v[j]) for j in range(_Q44_D)])
            for lb, v in zip(tbl.column("label").to_pylist(),
                             tbl.column("embedding").to_pylist())]
    n = len(rows)
    q10 = Decimal("1e-10")

    def dsum(addends):
        return float(sum(
            (Decimal(a).quantize(q10, rounding=ROUND_HALF_UP)
             for a in addends), Decimal(0)))

    def grads(resid_fn):
        return [dsum([resid_fn(y, x) * x[j] for y, x in rows]) / float(n)
                for j in range(_Q44_D + 1)]

    def dot(w, x):
        out = None
        for j in range(_Q44_D + 1):
            term = w[j] * x[j]
            out = term if out is None else out + term
        return out

    w1 = [-g for g in grads(lambda y, x: 0.5 - y)]
    w2_g = grads(lambda y, x: 1.0 / (1.0 + math.exp(-dot(w1, x))) - y)
    w2 = [w1[j] - w2_g[j] for j in range(_Q44_D + 1)]
    n_correct = sum(1 for y, x in rows
                    if (dot(w2, x) >= 0) == (y == 1.0))

    def sr(v):
        return v if abs(v) >= 1.0e9 else math.floor(v * 1e6 + 0.5001) / 1e6

    out = q44_logistic_regression_steps(spark, sf_dir).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["n"], r["n_correct"]) == (n, n_correct)
    for j in range(_Q44_D + 1):
        assert abs(r[f"w{j}"] - sr(w2[j])) <= 1.1e-6, (j, r[f"w{j}"], w2[j])


def test_t36_bm25_matches_pure_python(spark):
    """t36's BM25 (Lucene idf, k1=1.2 b=0.75, decimal-accumulated
    per-(query,doc) contributions) replicated in pure Python over the
    real sf0.001 documents.  Every returned row's score must match the
    reference within one rounded ulp (idf goes through libm log, which
    JVM and CPython may round 1 ulp apart — and the corpus really has
    adjacent scores 1e-6 apart, so exact rank equality would be
    ambiguous); n_terms_matched is exact, and every returned doc must
    be a genuine top-k member within the same tolerance."""
    import math
    import os
    from collections import Counter, defaultdict
    from decimal import ROUND_HALF_UP, Decimal

    import pytest

    sf_dir = os.environ.get("SPARK_GRAFT_SMOKE_DIR",
                            "/root/testdata/sf0.001")
    if not os.path.isdir(sf_dir):
        pytest.skip(f"no test data at {sf_dir}")
    import pyarrow.parquet as pq

    from mousedatapipeline_spark.plans.text_queries import (
        _BM25_B,
        _BM25_K1,
        _BM25_QUERIES,
        _BM25_TOPK,
        t36_bm25_topk,
    )

    tbl = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                        columns=["doc_id", "text"])
    toks = {d: [t for t in txt.lower().split(" ") if t]
            for d, txt in zip(tbl.column("doc_id").to_pylist(),
                              tbl.column("text").to_pylist())}
    n_docs = len(toks)
    avgdl = float(sum(len(ts) for ts in toks.values())) / float(n_docs)
    terms = {t for _, ts in _BM25_QUERIES for t in ts}
    tf = {(d, t): c for d, ts in toks.items()
          for t, c in Counter(x for x in ts if x in terms).items()}
    df_tbl = Counter(t for (_, t) in tf)
    q10 = Decimal("1e-10")

    def contrib(d, t):
        idf = math.log((float(n_docs) - float(df_tbl[t]) + 0.5)
                       / (float(df_tbl[t]) + 0.5) + 1.0)
        tfdt = float(tf[(d, t)])
        dl = float(len(toks[d]))
        return (idf * (tfdt * (_BM25_K1 + 1.0))
                / (tfdt + _BM25_K1 * ((1.0 - _BM25_B)
                                      + _BM25_B * (dl / avgdl))))

    def sr(v):
        return v if abs(v) >= 1.0e9 else math.floor(v * 1e6 + 0.5001) / 1e6

    ref = {}      # (qid, doc) -> (score, n_terms)
    kth = {}      # qid -> k-th highest reference score
    for qid, qterms in _BM25_QUERIES:
        per_doc = defaultdict(list)
        for t in qterms:
            for d in toks:
                if (d, t) in tf:
                    per_doc[d].append(contrib(d, t))
        scores = {}
        for d, cs in per_doc.items():
            scores[d] = sr(float(sum(
                (Decimal(c).quantize(q10, rounding=ROUND_HALF_UP)
                 for c in cs), Decimal(0))))
            ref[(qid, d)] = (scores[d], len(cs))
        ranked = sorted(scores.values(), reverse=True)
        kth[qid] = ranked[min(_BM25_TOPK, len(ranked)) - 1]

    rows = t36_bm25_topk(spark, sf_dir).collect()
    assert {r["query_id"] for r in rows} == {q for q, _ in _BM25_QUERIES}
    per_q = Counter(r["query_id"] for r in rows)
    assert all(c <= _BM25_TOPK for c in per_q.values())
    for r in rows:
        key = (r["query_id"], r["doc_id"])
        assert key in ref, key
        score, n_terms = ref[key]
        assert r["n_terms_matched"] == n_terms, key
        assert abs(r["score"] - score) <= 1.1e-6, (key, r["score"], score)
        # genuine top-k membership within the libm-drift tolerance
        assert score >= kth[r["query_id"]] - 2.2e-6, key
