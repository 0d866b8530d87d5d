"""Text & similarity operator semantics: tokenization, language ID,
fingerprint fold, minhash/simhash invariants."""

from __future__ import annotations

from contextlib import contextmanager
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from mousedatapipeline_spark.operators import similarity as S
from mousedatapipeline_spark.operators import text as T


def _one(spark, col, text):
    return spark.createDataFrame([(text,)], "text string").select(
        col.alias("v")).collect()[0]["v"]


def test_token_count_ignores_space_runs(spark):
    assert _one(spark, T.token_count(F.col("text")), "a  b   c") == 3
    assert _one(spark, T.token_count(F.col("text")), "") == 0


def test_regex_token_count_bpe_ish(spark):
    # 'abc' '12' 'd' '!' -> 4 tokens
    assert _one(spark, T.regex_token_count(F.col("text")), "abc12 d!") == 4


def test_language_prediction(spark):
    cases = {
        "the cat and the dog is in a house": "en",
        "der hund und die katze ist nicht da": "de",
        "le chat et la maison les deux": "fr",
        "el perro que los gatos una casa y": "es",
        "这 是 中文 文本": "zh",
    }
    for txt, lang in cases.items():
        assert _one(spark, T.predict_language(F.col("text")), txt) == lang


def test_language_tiebreak_is_english(spark):
    # No markers at all -> all scores 0 -> en by fixed tie-break order
    assert _one(spark, T.predict_language(F.col("text")), "zzz qqq") == "en"


def test_rolling_fingerprint_matches_python_fold(spark):
    text = "spark is a fast engine"
    mod = 2_147_483_647
    hashes = [(ord(t[0]) * 8191 + ord(t[-1]) * 131 + len(t)) % mod
              for t in text.split()]
    expect = hashes[0]
    for h in hashes[1:]:
        expect = (expect * 31 + h) % mod
    assert _one(spark, T.rolling_fingerprint(F.col("text")), text) == expect


def test_rolling_fingerprint_is_order_sensitive(spark):
    a = _one(spark, T.rolling_fingerprint(F.col("text")), "alpha beta")
    b = _one(spark, T.rolling_fingerprint(F.col("text")), "beta alpha")
    assert a != b


def test_shingles_distinct_and_short_doc_empty(spark):
    df = spark.createDataFrame([(1, "ababa"), (2, "ab")], "doc_id int, text string")
    rows = df.select("doc_id", S.shingle_set_col(F.col("text")).alias("sh"))
    got = {r["doc_id"]: sorted(r["sh"]) for r in rows.collect()}
    assert got == {1: ["aba", "bab"], 2: []}  # doc 2 shorter than n -> none


def test_minhash_identical_docs_identical_signatures(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps"),
         (3, "a completely different text here")],
        "doc_id int, text string")
    hashed = S.hashed_shingle_docs(df, extra_cols=())
    sig = hashed.select("doc_id", *S.minhash_cols(F.col("hs")))
    sigs = {r["doc_id"]: [r[f"mh{i}"] for i in range(S.N_PERM)]
            for r in sig.collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]
    assert len(set(sigs[1])) > 1


def test_simhash_identical_tokens_zero_hamming(spark):
    tok = spark.createDataFrame(
        [(1, 100, 2), (1, 200, 1), (2, 100, 2), (2, 200, 1), (3, 999, 5)],
        "doc_id int, th long, n long")
    out = {r["doc_id"]: r["simhash"]
           for r in S.simhash(tok, ["doc_id"]).collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]
    assert 0 <= out[1] < (1 << S.SIMHASH_BITS)


def test_cosine_pairs_unit_vectors(spark):
    e = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 1.0])],
        "vec_id int, embedding array<float>")
    dims = S.vector_dims(e, "vec_id", "embedding")
    norms = S.vector_norms(dims, "vec_id")
    q = dims.filter(F.col("vec_id") == 2).select(
        F.col("vec_id").alias("qid"), "dim", F.col("v").alias("qv"))
    c = dims.select(F.col("vec_id").alias("cid"), "dim", F.col("v").alias("cv"))
    qn = norms.select(F.col("vec_id").alias("qid"), F.col("norm").alias("qnorm"))
    cn = norms.select(F.col("vec_id").alias("cid"), F.col("norm").alias("cnorm"))
    out = {r["cid"]: r["cosine"]
           for r in S.cosine_pairs(q, c, qn, cn).collect()}
    import math
    assert math.isclose(out[0], 1 / math.sqrt(2), rel_tol=1e-9)
    assert math.isclose(out[1], 1 / math.sqrt(2), rel_tol=1e-9)
    assert math.isclose(out[2], 1.0, rel_tol=1e-9)


def test_embedding_neardup_pairs_and_blocking(spark, tmp_path):
    # doc 0 == doc 1 (cosine 1.0, same label); doc 2 orthogonal to both;
    # doc 3 identical to 0 but in another label block -> never paired.
    e = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0], 7), (1, [2.0, 0.0, 0.0], 7),
         (2, [0.0, 1.0, 0.0], 7), (3, [1.0, 0.0, 0.0], 8)],
        "vec_id long, embedding array<float>, label int")
    e.write.parquet(str(tmp_path / "embeddings.parquet"))
    from mousedatapipeline_spark.plans.similarity_queries import (
        s09_embedding_neardup,
    )
    rows = s09_embedding_neardup(spark, str(tmp_path)).collect()
    pairs = {(r["d1"], r["d2"]): r for r in rows}
    assert set(pairs) == {(0, 1)}
    assert pairs[(0, 1)]["cosine"] == 1.0
    assert pairs[(0, 1)]["label"] == 7


def test_blocked_pairs_max_block_guard(spark):
    import pytest
    from pyspark.errors import PySparkRuntimeError
    from pyspark.sql import functions as F
    df = spark.range(8).select(
        F.col("id").alias("doc_id"), F.lit("b").alias("blk"),
        F.col("id").cast("bigint").alias("n"))
    # within limit: all 8*7/2 pairs come out
    ok = S.blocked_pairs(df, ["blk"], {"n": "n"}, max_block=8)
    assert ok.count() == 28
    # over limit: loud execution-time failure naming the block
    over = S.blocked_pairs(df, ["blk"], {"n": "n"}, max_block=7)
    with pytest.raises(Exception) as ei:
        over.count()
    assert "max_block=7" in str(ei.value)
    # opt-out restores the unguarded contract
    assert S.blocked_pairs(df, ["blk"], {"n": "n"},
                           max_block=None).count() == 28


def _toy_cells(spark, n=12):
    """n vectors all nearest to centroid 0, plus a 2-cell codebook."""
    from pyspark.sql import functions as F
    vecs = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("v"))
    cent = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [-1.0, 0.0])],
        "label long, c array<double>")
    return vecs, cent


def test_assign_cells_hot_cell_guard(spark):
    """The in-plan hot-cell budget: identity under budget, loud
    execution-time raise naming the cell and its size when a quantizer
    collapse concentrates more than max_cell vectors in one cell —
    blocked_pairs' max_block contract, one rung up (VERDICT r07)."""
    import pytest
    vecs, cent = _toy_cells(spark, 12)
    # all 12 vectors argmax into cell 0: under budget -> identity
    ok = S.assign_cells(vecs, cent, max_cell=12)
    assert ok.count() == 12
    assert {r["cell"] for r in ok.collect()} == {0}
    # over budget: loud raise naming budget + cell + size
    with pytest.raises(Exception) as ei:
        S.assign_cells(vecs, cent, max_cell=11).count()
    msg = str(ei.value)
    assert "max_cell=11" in msg and "size=12" in msg
    # opt-out restores the unguarded contract
    assert S.assign_cells(vecs, cent, max_cell=None).count() == 12


def test_cell_ranks_guard_counts_membership_not_probe_rows(spark):
    """cell_ranks' guard must budget true cell MEMBERSHIP (crn == 1),
    not probe-list fan-out: 12 vectors x 2 probed cells is 24 ranked
    rows but only 12 members in the hot cell."""
    import pytest
    vecs, cent = _toy_cells(spark, 12)
    ranked = S.cell_ranks(vecs, cent, max_rank=2, max_cell=12)
    assert ranked.count() == 24  # probe rows exceed the budget: fine
    with pytest.raises(Exception) as ei:
        S.cell_ranks(vecs, cent, max_rank=2, max_cell=11).count()
    assert "max_cell=11" in str(ei.value)


def test_sqrtn_kmeans_centroids_shape_and_determinism(spark):
    """k ~ sqrt(N) codebook: cell count is bounded by the seed count
    ceil(N/step), every cell id is a seed vec_id (divisible by the
    stride), arrays are dim-length, and the result is deterministic
    (no randomness anywhere in the Lloyd round)."""
    import math
    from pyspark.sql import functions as F
    n = 40
    e = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") * (i + 1) % 7).cast("float")
                  for i in range(3)]).alias("embedding"),
        F.lit(0).alias("label"))
    cent = S.sqrtn_kmeans_centroids(e)
    rows = cent.collect()
    k = math.ceil(math.sqrt(n))  # 7
    step = (n - 1 + 1) // k      # 5
    seed_ids = set(range(0, n, step))
    got = {r["label"] for r in rows}
    assert got <= seed_ids and len(got) >= 1
    assert all(len(r["c"]) == 3 for r in rows)
    again = {r["label"]: r["c"] for r in cent.collect()}
    assert {r["label"]: r["c"] for r in rows} == again
    # assign_cells consumes the codebook unchanged: total assignment
    assert S.assign_cells(
        e.select("vec_id", F.transform(
            "embedding", lambda x: x.cast("double")).alias("v")),
        cent).count() == n
    # empty corpus -> empty codebook (not a NULL-max TypeError), the
    # SQL twin's behavior when the NULL max empties the seeds CTE
    empty = S.sqrtn_kmeans_centroids(e.filter(F.col("vec_id") < 0))
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["label", "c"]


def test_hashed_shingle_docs_matches_string_path(spark):
    """The hash-at-position scan (one evaluation, no string arrays)
    must equal hashing the string shingle set: same distinct hash
    sets, same n, and len<3 docs dropped like the empty-set filter."""
    df = spark.createDataFrame(
        [(1, "en", "abcabc"), (2, "en", "xy"), (3, "de", "hello world")],
        "doc_id long, lang string, text string")
    got = {r["doc_id"]: (sorted(r["hs"]), r["n"])
           for r in S.hashed_shingle_docs(df, with_n=True).collect()}
    want_df = df.filter(F.length("text") >= 3).select(
        "doc_id", S.shingle_set_col(F.col("text")).alias("ss"))
    want = {}
    for r in want_df.select(
            "doc_id",
            F.transform("ss", S.shingle_hash).alias("hs")).collect():
        want[r["doc_id"]] = (sorted(r["hs"]), len(r["hs"]))
    assert got == want
    assert 2 not in got  # len<3 doc dropped


def test_shingle_codepoints_match_substring(spark):
    """codepoints() (the O(n) split-based scan, r10) must read the SAME
    characters the positional-substring form read — including
    multi-byte and supplementary (surrogate-pair) codepoints, where a
    byte- or code-unit-level split would shear characters apart."""
    texts = ["abc", "héllo wörld", "日本語テキスト",
             "a\U0001F600b\U0001F600c", "mixé\U0001F600日aZ9"]
    df = spark.createDataFrame([(i, "en", t) for i, t in enumerate(texts)],
                               "doc_id long, lang string, text string")
    got = {r["doc_id"]: sorted(r["hs"])
           for r in S.hashed_shingle_docs(df).collect()}
    want = {}
    for r in df.select(
            "doc_id",
            F.transform(S.shingle_set_col(F.col("text")),
                        S.shingle_hash).alias("hs")).collect():
        want[r["doc_id"]] = sorted(r["hs"])
    assert got == want


def test_hashed_shingle_docs_single_evaluation_plan(spark):
    """The staged scan must evaluate the shingle expression ONCE: the
    consumer plan may contain at most one array_distinct (the
    select->filter->select shape inlined it 3x)."""
    df = spark.createDataFrame([(1, "en", "abcdef")],
                               "doc_id long, lang string, text string")
    out = S.hashed_shingle_docs(df, with_n=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("array_distinct") <= 1, plan


def test_minhash_lsh_pipeline_matches_pure_python(spark, tmp_path):
    """End-to-end triangulation of the s03/s19 machinery against an
    INDEPENDENT pure-Python implementation (sets + min over explicit
    permutations).  The driver's DuckDB gate can't catch a bug the
    Spark plan and the SQL oracle share (both are built from the same
    module constants); this reference shares only the published
    definition: shingle = distinct 3-gram hash set, mh_i = min over
    (a_i*h+b_i) mod p, band sig = dash-joined rows, candidates =
    same (lang, band, sig) bucket, verified edge = Jaccard >= 0.5 on
    the hash sets among >= MIN_SHARED_BANDS candidates."""
    import itertools
    from collections import Counter, defaultdict

    from mousedatapipeline_spark.plans.similarity_queries import (
        MIN_SHARED_BANDS,
        VERIFY_JACCARD,
        lsh_verified_edges,
        s03_minhash_lsh,
    )

    bases = [
        "the quick brown fox jumps over the lazy dog again and again",
        "pack my box with five dozen liquor jugs for the long trip",
        "sphinx of black quartz judge my vow said the museum guide",
    ]
    docs = {}
    for did in range(60):
        lang = ("en", "de")[did % 2]
        b = bases[did % 3]
        if did % 5 == 0:
            text = b                          # exact copy: full bucket hit
        elif did % 5 == 1:
            text = b + " tail" + str(did)     # near-dup: partial bands
        elif did % 5 == 2:
            text = b.replace("the", "thy")    # mutated near-dup
        elif did % 5 == 3:
            text = f"unique filler {did} " * 3  # mostly unrelated
        else:
            text = "ab"                       # < 3 chars: no shingles
        docs[did] = (lang, text)
    spark.createDataFrame(
        [(d, lg, t) for d, (lg, t) in docs.items()],
        "doc_id bigint, lang string, text string",
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    sigs, hsets = {}, {}
    for did, (lang, text) in docs.items():
        if len(text) < 3:
            continue
        hs = {(ord(text[i]) * 65536 + ord(text[i + 1]) * 256
               + ord(text[i + 2])) % S.MOD
              for i in range(len(text) - 2)}
        hsets[did] = hs
        sigs[did] = [
            min((S.MINHASH_A[i] * h + S.MINHASH_B[i]) % S.MOD for h in hs)
            for i in range(S.N_PERM)]
    buckets = defaultdict(list)
    for did, sig in sigs.items():
        for b in range(S.N_BANDS):
            lo = b * S.ROWS_PER_BAND
            key = (docs[did][0], b,
                   "-".join(str(x) for x in sig[lo:lo + S.ROWS_PER_BAND]))
            buckets[key].append(did)
    exp_pairs = Counter()
    for ds in buckets.values():
        for d1, d2 in itertools.combinations(sorted(ds), 2):
            exp_pairs[(d1, d2)] += 1
    assert exp_pairs, "fixture must produce candidate pairs"

    got = {(r["d1"], r["d2"]): r["shared_bands"]
           for r in s03_minhash_lsh(spark, str(tmp_path)).collect()}
    assert got == dict(exp_pairs)

    exp_edges = {}
    for (d1, d2), nb in exp_pairs.items():
        if nb < MIN_SHARED_BANDS:
            continue
        common = len(hsets[d1] & hsets[d2])
        union = len(hsets[d1] | hsets[d2])
        if union and common / union >= VERIFY_JACCARD:
            exp_edges[(d1, d2)] = common
    assert exp_edges, "fixture must produce verified edges"
    d = spark.read.parquet(str(tmp_path / "documents.parquet"))
    got_edges = {(r["d1"], r["d2"]): r["n_common"]
                 for r in lsh_verified_edges(d).collect()}
    assert got_edges == exp_edges


def test_parse_bytes_spark_suffixes():
    """Every JavaUtils.byteStringAs suffix parses; garbage degrades to
    the caller's default instead of aborting the query (r06 review)."""
    from mousedatapipeline_spark.tables import _parse_bytes
    assert _parse_bytes("134217728") == 134217728
    assert _parse_bytes("128m") == _parse_bytes("128MB") == 128 * 1024**2
    assert _parse_bytes("1g") == 1024**3
    assert _parse_bytes("1t") == _parse_bytes("1tb") == 1024**4
    assert _parse_bytes("2p") == _parse_bytes("2pb") == 2 * 1024**5
    assert _parse_bytes("64b") == 64
    assert _parse_bytes("not-a-size", default=42) == 42
    # non-positive parses degrade to the default like unparseable
    # input — a zero/negative split size would poison the estimator's
    # min/max/ceil arithmetic (ADVICE r06)
    assert _parse_bytes("0", default=42) == 42
    assert _parse_bytes("-128m", default=42) == 42


def test_estimated_scan_splits_survives_zero_split_inputs(spark, tmp_path):
    """openCostInBytes=0 plus unstattable (size-0) inputs must degrade
    to a sane estimate, never a ZeroDivisionError: a bad estimate must
    never abort the query it was sizing (ADVICE r06)."""
    from mousedatapipeline_spark.tables import _estimated_scan_splits
    p = str(tmp_path / "t.parquet")
    spark.range(100).coalesce(1).write.parquet(p)
    df = spark.read.parquet(p)
    old = spark.conf.get("spark.sql.files.openCostInBytes", "4194304")
    try:
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        # real local file (statted size > 0): still fine with 0 open cost
        assert _estimated_scan_splits(spark, df, 32) >= 1
        # simulate all-remote/unstattable inputs (statted sizes all 0):
        # pre-fix this made total=0 -> max_split=0 -> ZeroDivisionError;
        # now the non-positive open cost degrades to its default AND
        # max_split is clamped >= 1, so both layers protect the query
        class _Fake:
            def inputFiles(self):
                return ["s3a://bucket/a.parquet", "s3a://bucket/b.parquet"]
        assert _estimated_scan_splits(spark, _Fake(), 32) >= 1
    finally:
        spark.conf.set("spark.sql.files.openCostInBytes", old)


def test_estimated_scan_splits_models_bin_packing(spark, tmp_path):
    """The estimate reproduces FilePartition planning: many tiny files
    really scan as ~one-per-core partitions (the bytesPerCore shrink),
    while few tiny files stay few — one-split-per-file and
    total/maxPartitionBytes are both wrong (r06 review + plan test)."""
    from mousedatapipeline_spark.tables import _estimated_scan_splits
    par = spark.sparkContext.defaultParallelism
    many = str(tmp_path / "many.parquet")
    spark.range(10_000).repartition(par * 2).write.parquet(many)
    est = _estimated_scan_splits(spark, spark.read.parquet(many), par)
    assert est >= par          # packed to keep every core busy
    assert est <= par * 2      # never more partitions than chunks
    few = str(tmp_path / "few.parquet")
    spark.range(100).coalesce(1).write.parquet(few)
    assert _estimated_scan_splits(
        spark, spark.read.parquet(few), par) < par


def test_load_spread_conditional(spark, tmp_path):
    """load_spread repartitions a single-split scan to cluster
    parallelism but leaves an already-parallel scan untouched."""
    from mousedatapipeline_spark import tables
    par = spark.sparkContext.defaultParallelism
    # load_spread's target is shuffle.partitions; pin it to `par` so
    # the assertions hold regardless of what earlier tests did to the
    # shared session's runtime conf (r07 flake: a get_spark() call in
    # another file left it at the machine core count).
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(par))
    try:
        _run_load_spread_checks(spark, tmp_path, tables, par)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _run_load_spread_checks(spark, tmp_path, tables, par):
    spark.range(100).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet"))
    one = tables.load_spread(spark, str(tmp_path), "documents")
    assert one.rdd.getNumPartitions() == par
    spark.range(10_000).repartition(par + 4).write.mode(
        "overwrite").parquet(str(tmp_path / "part.parquet"))
    import shutil
    shutil.rmtree(str(tmp_path / "documents.parquet"))
    shutil.move(str(tmp_path / "part.parquet"),
                str(tmp_path / "documents.parquet"))
    many = tables.load_spread(spark, str(tmp_path), "documents")
    # no repartition node added: partition count is the scan's own
    assert many.rdd.getNumPartitions() >= par
    assert "Exchange" not in many._jdf.queryExecution() \
        .executedPlan().toString()


def test_bm25_topk_invariants(spark):
    """t36: ranks are contiguous from 1 per query, scores non-increasing
    along the rank order, every score positive (Lucene idf variant is
    always > 0), and n_terms_matched never exceeds the query length."""
    from mousedatapipeline_spark.plans.text_queries import (
        _BM25_QUERIES,
        _BM25_TOPK,
        t36_bm25_topk,
    )
    rows = t36_bm25_topk(spark, "/root/testdata/sf0.001").collect()
    qlen = dict((qid, len(ts)) for qid, ts in _BM25_QUERIES)
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
        assert 0 < r.n_terms_matched <= qlen[r.query_id]
        assert r.score > 0.0
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= _BM25_TOPK
        scores = [r.score for r in rs]
        assert scores == sorted(scores, reverse=True)


def test_bm25_rare_term_outscores_common(spark):
    """A doc matching the rare term 'dup' (df~5% of corpus) must outrank
    any doc matching only the common term 'row' for query q3 — the idf
    ordering BM25 exists for. Guarded: skip if this SF has no 'dup' doc."""
    import pytest
    from pyspark.sql import functions as F

    from mousedatapipeline_spark.plans.text_queries import t36_bm25_topk
    from mousedatapipeline_spark.tables import load

    sf = "/root/testdata/sf0.001"
    d = load(spark, sf, "documents")
    has_dup = {r.doc_id for r in d.filter(
        F.col("text").rlike(r"(^| )dup( |$)")).select("doc_id").collect()}
    if not has_dup:
        pytest.skip("no 'dup' docs at this SF")
    rows = [r for r in t36_bm25_topk(spark, sf).collect()
            if r.query_id == "q3"]
    rows.sort(key=lambda r: r.rank)
    dup_ranks = [r.rank for r in rows if r.doc_id in has_dup]
    only_row_ranks = [r.rank for r in rows if r.doc_id not in has_dup]
    if dup_ranks and only_row_ranks:
        assert max(dup_ranks) < min(only_row_ranks)


def test_s41_power_iteration_matches_numpy(spark):
    """s41's loadings/eigenvalue equal an independent dense numpy
    3-step power iteration on the same vectors (same v0 = 1/sqrt(d)),
    up to the stable_round(6) output rounding; and the loading vector
    is unit-norm."""
    import math

    import numpy as np

    from mousedatapipeline_spark.plans.similarity_queries import (
        s41_power_iteration_pca)

    sf = "/root/testdata/sf0.001"
    x = np.array(spark.read.parquet(f"{sf}/embeddings.parquet")
                 .select("embedding").toPandas()["embedding"].tolist(),
                 dtype=np.float64)
    n, d = x.shape
    v = np.full(d, 1.0 / math.sqrt(d))
    for _ in range(3):
        w = x.T @ (x @ v)
        nrm = float(np.linalg.norm(w))
        v = w / nrm
    got = {r.dim: (r.loading, r.eigenvalue)
           for r in s41_power_iteration_pca(spark, sf).collect()}
    assert set(got) == set(range(1, d + 1))
    assert abs(sum(l * l for l, _ in got.values()) - 1.0) < 1e-4
    for i in range(d):
        assert abs(got[i + 1][0] - v[i]) < 1e-5, i
        assert abs(got[i + 1][1] - nrm) < max(1e-5 * nrm, 1e-5)


def test_t37_textrank_matches_python_reference(spark):
    """t37's top-20 equals an independent plain-Python weighted
    PageRank over the same co-occurrence graph (same filtering, same
    window-2 adjacency, same 3 iterations, same tie-break)."""
    import re as _re

    from mousedatapipeline_spark.operators.text import EN_STOPWORDS
    from mousedatapipeline_spark.plans.text_queries import (
        _T37_TOPK, t37_textrank_keywords)

    sf = "/root/testdata/sf0.001"
    pat = _re.compile(r"^[a-z]{3,}$")
    stops = set(EN_STOPWORDS)
    wt = {}
    for row in (spark.read.parquet(f"{sf}/documents.parquet")
                .select("text").collect()):
        kws = [t for t in row.text.lower().split(" ")
               if t and pat.match(t) and t not in stops]
        for a, b in zip(kws, kws[1:]):
            if a != b:
                k = (min(a, b), max(a, b))
                wt[k] = wt.get(k, 0) + 1
    deg, adj = {}, {}
    for (a, b), w in wt.items():
        for s, t in ((a, b), (b, a)):
            deg[s] = deg.get(s, 0) + w
            adj.setdefault(t, []).append((s, w))
    n = len(deg)
    r = {v: 1.0 / n for v in deg}
    for _ in range(3):
        r = {v: 0.15 / n + 0.85 * sum(r[s] * w / deg[s]
                                      for s, w in adj.get(v, []))
             for v in deg}
    top = sorted(deg, key=lambda v: (-r[v], v))[:_T37_TOPK]
    got = sorted(t37_textrank_keywords(spark, sf).collect(),
                 key=lambda x: x.pos)
    assert [g.word for g in got] == top
    for g in got:
        assert g.wdeg == deg[g.word]
        assert abs(g.score - r[g.word]) < 5.1e-7, g.word


def test_s42_matryoshka_recall_matches_numpy(spark):
    """s42 equals an independent numpy reference: exact full-dim top-3
    and truncated top-3 per depth (same rounded-cosine + id tie-break),
    recall = overlap/3. Also the structural invariant: n_exact == 3
    everywhere and recall in {0, 1/3, 2/3, 1}."""
    import numpy as np

    from mousedatapipeline_spark.plans.similarity_queries import (
        _S42_DEPTHS, s42_matryoshka_recall)

    sf = "/root/testdata/sf0.001"
    rows = (spark.read.parquet(f"{sf}/embeddings.parquet")
            .select("vec_id", "embedding").collect())
    ids = np.array([r.vec_id for r in rows])
    x = np.array([r.embedding for r in rows], dtype=np.float64)

    def top3(depth):
        xt = x[:, :depth]
        out = {}
        for qi in np.where(ids < 10)[0]:
            qv = xt[qi]
            qn = np.linalg.norm(qv)
            cand = []
            for ci in range(len(ids)):
                if ids[ci] == ids[qi]:
                    continue
                cn = np.linalg.norm(xt[ci])
                cos = float(qv @ xt[ci] / (qn * cn)) \
                    if qn > 0 and cn > 0 else 0.0
                # the engines rank on the stable_round(6)-ed cosine
                cand.append((-round(cos, 6), ids[ci]))
            cand.sort()
            out[ids[qi]] = {c for _, c in cand[:3]}
        return out

    exact = top3(x.shape[1])
    got = {(r.depth, r.qid): r
           for r in s42_matryoshka_recall(spark, sf).collect()}
    assert set(got) == {(d, q) for d in _S42_DEPTHS for q in exact}
    for d in _S42_DEPTHS:
        approx = top3(d)
        for qid in exact:
            r = got[(d, qid)]
            hit = len(exact[qid] & approx[qid])
            assert r.n_exact == 3
            assert r.n_hit == hit, (d, qid)
            assert abs(r.recall - hit / 3.0) < 5.1e-7


def test_shingle_hash_injective_single_byte_codepoints(spark):
    """Byte-positional base-256 weights are injective on the 1..255
    codepoint cube by construction (each position owns a byte lane;
    max value 0xFFFFFF < MOD so %MOD never wraps).  Verified on a
    seeded 4096-triple sample plus the boundary corners and the old
    923521/961/31 weights' documented collision pair (40,70)/(41,39)."""
    import random

    rng = random.Random(20260815)
    triples = {(rng.randrange(1, 256), rng.randrange(1, 256),
                rng.randrange(1, 256)) for _ in range(4096)}
    triples |= {(1, 1, 1), (255, 255, 255), (1, 255, 1), (255, 1, 255),
                (1, 40, 70), (1, 41, 39)}  # old-weight collision pair
    rows = [("".join(map(chr, t)),) for t in sorted(triples)]
    df = spark.createDataFrame(rows, "shingle string")
    got = df.select(
        S.shingle_hash(F.col("shingle")).alias("h")).collect()
    hashes = [r["h"] for r in got]
    assert len(set(hashes)) == len(triples)
    # and the hash is exactly the positional value for byte codepoints
    for (a, b, c), h in zip(sorted(triples), hashes):
        assert h == a * 65536 + b * 256 + c


def test_shingle_hash_injective_on_census(spark):
    """Corpus census helper: equal counts on an ASCII corpus; a forced
    cross-lane collision (codepoints >= 256) is detected."""
    ok = spark.createDataFrame(
        [(1, "abcdef"), (2, "hello world"), (3, "xy")],
        "doc_id long, text string")
    s, h = S.shingle_hash_injective_on(ok)
    assert s == h > 0
    # chr(256) in position 2 contributes 256*256 = 65536, colliding
    # with codepoint 1 in position 1: chr(1)+chr(0+1)... construct the
    # documented cross-lane pair: (1,0,0) lane-1 vs (0,256,0) lane-2.
    # ascii(chr(256)) = 256 -> 256*256 = 65536 = 1*65536.
    bad = spark.createDataFrame(
        [(1, chr(1) + chr(0) + chr(0)), (2, chr(0) + chr(256) + chr(0))],
        "doc_id long, text string")
    s2, h2 = S.shingle_hash_injective_on(bad)
    assert s2 == 2 and h2 == 1


def test_simhash_matches_pure_python(spark):
    """Exact triangulation of token_hashes_16bit + simhash_col against
    an independent Python implementation (signed per-bit sums over the
    RAW hash multiset — duplicates weight naturally)."""
    import random

    rng = random.Random(11)
    vocab = ["data", "spark", "pipeline", "dedup", "x", "yy", "zzz",
             "embedding", "scan", "a"]
    docs = {d: [rng.choice(vocab) for _ in range(rng.randrange(1, 25))]
            for d in range(30)}

    def th(t: str) -> int:
        return ((ord(t[0]) * 8191 + ord(t[-1]) * 131 + len(t))
                % S.MOD) % (1 << S.SIMHASH_BITS)

    def ref(ts: list[str]) -> int:
        out = 0
        for j in range(S.SIMHASH_BITS):
            s = sum(((th(t) >> j) & 1) * 2 - 1 for t in ts)
            if s > 0:
                out |= 1 << j
        return out

    df = spark.createDataFrame(
        [(d, ts) for d, ts in docs.items()],
        "doc_id bigint, toks array<string>")
    staged = df.select(
        "doc_id", S.token_hashes_16bit(F.col("toks")).alias("ths"))
    got = {r["doc_id"]: r["sh"] for r in staged.select(
        "doc_id", S.simhash_col(F.col("ths")).alias("sh")).collect()}
    assert got == {d: ref(ts) for d, ts in docs.items()}


def test_label_propagation_matches_pure_python(spark, tmp_path):
    """s43's synchronous label-propagation rounds (neighbor-label count,
    tie-break by (max count, min label)) replicated in pure Python over
    the SAME fixture, with the edge list derived by the already-
    triangulated pure-Python s19 replica — exact community census
    equality. All-integer math, so no float caveats."""
    import hashlib
    import itertools
    from collections import Counter, defaultdict

    from mousedatapipeline_spark.plans.similarity_queries import (
        _S43_ITERS,
        MIN_SHARED_BANDS,
        VERIFY_JACCARD,
        s43_label_propagation,
    )

    bases = [
        "one shared base text that repeats across many documents here",
        "a second unrelated base string for the other community cluster",
    ]
    docs = {}
    for did in range(30):
        b = bases[did % 2]
        suffix = "" if did % 3 == 0 else f" v{did % 3}"
        docs[did] = ("en", b + suffix)
    spark.createDataFrame(
        [(d, lg, t) for d, (lg, t) in docs.items()],
        "doc_id bigint, lang string, text string",
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    hsets, sigs = {}, {}
    for did, (lang, text) in docs.items():
        hs = {(ord(text[i]) * 65536 + ord(text[i + 1]) * 256
               + ord(text[i + 2])) % S.MOD
              for i in range(len(text) - 2)}
        hsets[did] = hs
        sigs[did] = [
            min((S.MINHASH_A[i] * h + S.MINHASH_B[i]) % S.MOD for h in hs)
            for i in range(S.N_PERM)]
    buckets = defaultdict(list)
    for did, sig in sigs.items():
        for b in range(S.N_BANDS):
            lo = b * S.ROWS_PER_BAND
            key = (docs[did][0], b,
                   "-".join(str(x) for x in sig[lo:lo + S.ROWS_PER_BAND]))
            buckets[key].append(did)
    shared = Counter()
    for ds in buckets.values():
        for d1, d2 in itertools.combinations(sorted(ds), 2):
            shared[(d1, d2)] += 1
    adj = defaultdict(set)
    for (d1, d2), nb in shared.items():
        if nb < MIN_SHARED_BANDS:
            continue
        common = len(hsets[d1] & hsets[d2])
        union = len(hsets[d1] | hsets[d2])
        if union and common / union >= VERIFY_JACCARD:
            adj[d1].add(d2)
            adj[d2].add(d1)
    assert adj, "fixture must produce near-dup edges"

    lab = {v: v for v in adj}
    for _ in range(_S43_ITERS):
        new = {}
        for v in adj:
            cnt = Counter(lab[u] for u in adj[v])
            new[v] = min(cnt, key=lambda lb: (-cnt[lb], lb))
        lab = new
    exp = {}
    for v, lb in lab.items():
        n, mn, mx = exp.get(lb, (0, v, v))
        exp[lb] = (n + 1, min(mn, v), max(mx, v))

    got = {r["community"]: (r["n_members"], r["min_member"],
                            r["max_member"])
           for r in s43_label_propagation(spark, str(tmp_path)).collect()}
    assert got == exp
    assert len(exp) >= 2, "fixture must produce multiple communities"


def test_pagerank_matches_pure_python(spark, tmp_path):
    """s40's PageRank rounds replicated in pure Python with the SAME
    numeric contract: contributions r/outdeg as IEEE doubles, each
    quantized to DECIMAL(30,10) HALF_UP and summed exactly (dsum), sum
    cast back to double, damping in doubles, final stable_round.  Edge
    list from the already-triangulated pure-Python s19 replica.  Exact
    (bit-level) equality of every pagerank value."""
    import hashlib
    import itertools
    import math
    from collections import Counter, defaultdict
    from decimal import ROUND_HALF_UP, Decimal

    from mousedatapipeline_spark.plans.similarity_queries import (
        _S40_ITERS,
        MIN_SHARED_BANDS,
        VERIFY_JACCARD,
        s40_neardup_pagerank,
    )

    bases = [
        "one shared base text that repeats across many documents here",
        "a second unrelated base string for the other community cluster",
        "third tiny island pair text that matches only its own twin",
    ]
    docs = {}
    for did in range(36):
        b = bases[did % 3]
        suffix = "" if did % 4 == 0 else f" v{did % 4}"
        docs[did] = ("en", b + suffix)
    spark.createDataFrame(
        [(d, lg, t) for d, (lg, t) in docs.items()],
        "doc_id bigint, lang string, text string",
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    hsets, sigs = {}, {}
    for did, (lang, text) in docs.items():
        hs = {(ord(text[i]) * 65536 + ord(text[i + 1]) * 256
               + ord(text[i + 2])) % S.MOD
              for i in range(len(text) - 2)}
        hsets[did] = hs
        sigs[did] = [
            min((S.MINHASH_A[i] * h + S.MINHASH_B[i]) % S.MOD for h in hs)
            for i in range(S.N_PERM)]
    buckets = defaultdict(list)
    for did, sig in sigs.items():
        for b in range(S.N_BANDS):
            lo = b * S.ROWS_PER_BAND
            key = (docs[did][0], b,
                   "-".join(str(x) for x in sig[lo:lo + S.ROWS_PER_BAND]))
            buckets[key].append(did)
    shared = Counter()
    for ds in buckets.values():
        for d1, d2 in itertools.combinations(sorted(ds), 2):
            shared[(d1, d2)] += 1
    adj = defaultdict(set)
    for (d1, d2), nb in shared.items():
        if nb < MIN_SHARED_BANDS:
            continue
        common = len(hsets[d1] & hsets[d2])
        union = len(hsets[d1] | hsets[d2])
        if union and common / union >= VERIFY_JACCARD:
            adj[d1].add(d2)
            adj[d2].add(d1)
    assert adj, "fixture must produce near-dup edges"

    outdeg = {v: len(ns) for v, ns in adj.items()}
    n = float(len(adj))
    r = {v: 1.0 / n for v in adj}
    q10 = Decimal("1e-10")
    for _ in range(_S40_ITERS):
        s = {}
        for v in adj:
            total = sum(
                (Decimal(r[u] / float(outdeg[u]))
                 .quantize(q10, rounding=ROUND_HALF_UP)
                 for u in adj[v]),
                Decimal(0))
            s[v] = float(total)
        r = {v: 0.15 / n + 0.85 * s[v] for v in adj}

    def sr(x: float) -> float:
        return x if abs(x) >= 1.0e9 else math.floor(x * 1e6 + 0.5001) / 1e6

    exp = {v: (outdeg[v], sr(r[v])) for v in adj}
    got = {row["doc_id"]: (row["degree"], row["pagerank"])
           for row in s40_neardup_pagerank(spark, str(tmp_path)).collect()}
    assert got == exp


def test_power_iteration_pca_matches_pure_python():
    """s41's 3-step power iteration replicated in pure Python over the
    real sf0.001 embeddings with the exact numeric contract: in-order
    double fold for each vector's dot, per-addend DECIMAL(30,10)
    HALF_UP quantization with exact accumulation for the component sums
    and the sum-of-squares, IEEE sqrt/divide, stable_round.  Bit-level
    equality per dimension."""
    import math
    import os
    from decimal import ROUND_HALF_UP, Decimal

    import pytest

    sf_dir = os.environ.get("SPARK_GRAFT_SMOKE_DIR",
                            "/root/testdata/sf0.001")
    if not os.path.isdir(sf_dir):
        pytest.skip(f"no test data at {sf_dir}")
    import pyarrow.parquet as pq

    tbl = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"),
                        columns=["embedding"])
    vecs = [[float(x) for x in v] for v in tbl.column("embedding").to_pylist()]
    d = max(len(v) for v in vecs)
    q10 = Decimal("1e-10")

    def dsum(addends):
        return float(sum(
            (Decimal(a).quantize(q10, rounding=ROUND_HALF_UP)
             for a in addends), Decimal(0)))

    def step(v):
        w = [0.0] * d
        per_pos = [[] for _ in range(d)]
        for xs in vecs:
            dot = 0.0
            for a, b in zip(xs, v):
                dot = dot + a * b
            for pos, x in enumerate(xs):
                per_pos[pos].append(x * dot)
        return [dsum(per_pos[pos]) for pos in range(d)]

    v = [1.0 / math.sqrt(float(d))] * d
    for _ in range(2):                       # _S41_ITERS - 1
        w = step(v)
        nrm = math.sqrt(dsum([x * x for x in w]))
        v = [x / nrm for x in w]
    w = step(v)
    nrm = math.sqrt(dsum([x * x for x in w]))

    def sr(x):
        return x if abs(x) >= 1.0e9 else math.floor(x * 1e6 + 0.5001) / 1e6

    exp = {pos + 1: (sr(w[pos] / nrm), sr(nrm)) for pos in range(d)}

    from mousedatapipeline_spark.plans.similarity_queries import (
        s41_power_iteration_pca,
    )
    from mousedatapipeline_spark.session import get_spark
    spark = get_spark()
    got = {r["dim"]: (r["loading"], r["eigenvalue"])
           for r in s41_power_iteration_pca(spark, sf_dir).collect()}
    assert got == exp


# --------------------------------------------------------------------------
# Round-7 edge-mass guard: the union top-m degree cap on
# lsh_verified_edges (MAX_NEARDUP_DEGREE / degree_cap_sql).  Contract:
# (a) total edge mass <= m * |V| — every downstream |E|-join is linear
#     in the corpus even under pathological duplicate mass;
# (b) no node is isolated — its own top-1 pick always survives;
# (c) an equal-jaccard clique stays ONE component (every member keeps
#     its edge to the min-id member), so canonical selection after the
#     cap still collapses the whole cluster;
# (d) the kept set matches a pure-Python reference of the rule.
# --------------------------------------------------------------------------
def _capped_edges_python(edges, m):
    """Union top-m reference: edges = {(d1, d2): (n_common, jr)}."""
    from collections import defaultdict

    byn = defaultdict(list)
    for (d1, d2), (_, jr) in edges.items():
        byn[d1].append((-jr, d2))
        byn[d2].append((-jr, d1))
    keep = set()
    for node, nbrs in byn.items():
        for _, nbr in sorted(nbrs)[:m]:
            keep.add((min(node, nbr), max(node, nbr)))
    return keep


def test_degree_cap_clique_stays_connected(spark, tmp_path, monkeypatch):
    """12 identical docs form a jaccard-1.0 clique (66 edges). With the
    cap monkeypatched to m=4 the kept mass is <= 4*12, nobody is
    isolated, the clique is still ONE component, and the kept set is
    exactly the pure-Python union-top-m reference."""
    from mousedatapipeline_spark.plans import similarity_queries as SQ

    text = "the quick brown fox jumps over the lazy dog again and again"
    spark.createDataFrame(
        [(i, "en", text) for i in range(12)],
        "doc_id bigint, lang string, text string",
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    d = spark.read.parquet(str(tmp_path / "documents.parquet"))

    uncapped = {(r["d1"], r["d2"]): (r["n_common"], r["jaccard"])
                for r in SQ.lsh_verified_edges(d).collect()}
    assert len(uncapped) == 66  # 12-clique, cap a no-op at m=64

    monkeypatch.setattr(SQ, "MAX_NEARDUP_DEGREE", 4)
    got = {(r["d1"], r["d2"]) for r in SQ.lsh_verified_edges(d).collect()}
    assert got == _capped_edges_python(uncapped, 4)
    assert len(got) <= 4 * 12
    nodes = {n for e in got for n in e}
    assert nodes == set(range(12))  # (b): nobody isolated
    # (c): single component via union-find over the kept edges
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in got:
        parent[find(a)] = find(b)
    assert len({find(n) for n in nodes}) == 1


def test_degree_cap_star_keeps_leaf_edges(spark):
    """A star graph (hub 0, leaves 1..8, no leaf-leaf edges) fed to the
    operator directly: each leaf's only (hence top-1) pick is its hub
    edge, so the union rule keeps EVERY star edge even with m=2 — a
    hub's popularity never severs a leaf's canonical link.  Mass stays
    linear (|E| = 8 <= m * |V|), and a mutual-kNN AND-cap would have
    dropped 6 of the 8 edges here (only the hub's own top-2 survive
    an AND)."""
    edges = {(0, i): (50 + i, 0.9 - 0.01 * i) for i in range(1, 9)}
    verified = spark.createDataFrame(
        [(d1, d2, nc, jr) for (d1, d2), (nc, jr) in edges.items()],
        "d1 bigint, d2 bigint, n_common bigint, jaccard_raw double")
    got = {(r["d1"], r["d2"])
           for r in S.degree_cap_edges(verified, 2).collect()}
    assert got == _capped_edges_python(edges, 2)
    assert got == set(edges)  # all 8 survive via the leaves' side


def test_degree_cap_dense_bipartite_bounds_mass(spark):
    """20x20 complete bipartite block (400 edges, all jaccard-equal):
    with m=3 the kept mass respects the <= m*|V| contract, no node is
    isolated, and the kept set equals the pure-Python union-top-m
    reference (tie groups decided by the nbr ASC tie-break)."""
    edges = {(a, 100 + b): (10, 0.75) for a in range(20) for b in range(20)}
    verified = spark.createDataFrame(
        [(d1, d2, nc, jr) for (d1, d2), (nc, jr) in edges.items()],
        "d1 bigint, d2 bigint, n_common bigint, jaccard_raw double")
    got = {(r["d1"], r["d2"])
           for r in S.degree_cap_edges(verified, 3).collect()}
    assert got == _capped_edges_python(edges, 3)
    assert len(got) <= 3 * 40
    assert {n for e in got for n in e} == set(range(20)) | {
        100 + b for b in range(20)}


def test_degree_cap_binding_at_sf0001_matches_python(monkeypatch):
    """On real testdata (sf0.001 corpus, 409 verified edges, max degree
    13) a cap of m=3 binds hard; the kept set must equal the pure-
    Python union-top-m reference computed from the uncapped list —
    including jaccard-tie groups, where the (jr DESC, nbr ASC) order
    decides deterministically."""
    from mousedatapipeline_spark.plans import similarity_queries as SQ
    from mousedatapipeline_spark.session import get_spark
    from mousedatapipeline_spark.tables import load

    spark = get_spark()
    d = load(spark, "/root/testdata/sf0.001", "documents").repartition(8)
    uncapped = {(r["d1"], r["d2"]): (r["n_common"], r["jaccard"])
                for r in SQ.lsh_verified_edges(d).collect()}
    assert max(
        sum(1 for e in uncapped if n in e)
        for n in {x for e in uncapped for x in e}) > 3  # cap must bind

    monkeypatch.setattr(SQ, "MAX_NEARDUP_DEGREE", 3)
    got = {(r["d1"], r["d2"]) for r in SQ.lsh_verified_edges(d).collect()}
    assert got == _capped_edges_python(uncapped, 3)
    assert len(got) <= 3 * len({x for e in uncapped for x in e})


# --------------------------------------------------------------------------
# lsh_verified_edges' two regimes: the driver solve below the broadcast
# threshold and the distributed plan past either gate (equality of the
# two is a property in tests/test_properties.py).
# --------------------------------------------------------------------------
@contextmanager
def _threshold(spark, value):
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def test_lsh_driver_regime_job_budget(spark):
    """Below the threshold the funnel runs two jobs: the eager
    checkpoint of the hashed shingle sets and their one Arrow collect.
    Everything after is numpy, and the edges come back as a local
    relation, so collecting them runs no job at all. The distributed
    plan ran ~10; sub-job creep on this path fails here."""
    from mousedatapipeline_spark.plans import similarity_queries as SQ

    sc = spark.sparkContext
    text = "the quick brown fox jumps over the lazy dog again and again"
    d = spark.createDataFrame(
        [(i, "en", text if i % 3 else text + f" {i}") for i in range(30)],
        "doc_id bigint, lang string, text string")
    group = "lsh-job-budget"

    def jobs():
        return len(sc.statusTracker().getJobIdsForGroup(group))

    sc.setJobGroup(group, "lsh_verified_edges job budget")
    try:
        with _threshold(spark, "64MB"):
            out = SQ.lsh_verified_edges(d)
        inside = jobs()
        got = out.collect()
        total = jobs()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    copies = [i for i in range(30) if i % 3]
    assert {(a, b) for a in copies for b in copies if a < b} \
        <= {(r.d1, r.d2) for r in got}
    assert inside <= 2, inside
    assert total <= 2, total


def test_lsh_hot_bucket_past_pair_guard_runs_distributed(spark,
                                                          monkeypatch):
    """150 identical docs: the hashed corpus fits 256 KB, but every band
    is one 150-doc bucket, 4 * C(150, 2) = 44,700 row pairs = 715 KB at
    16 bytes a pair. Under a 256 KB threshold the first gate passes (the
    buckets are computed) and the pair guard fails, so the distributed
    plan runs; it returns the capped clique, the same edges as the
    driver regime under 64 MB."""
    from mousedatapipeline_spark.plans import similarity_queries as SQ

    solved, bucketed = [], []
    driver, buckets = SQ._driver_lsh_edges, S.band_buckets_np
    monkeypatch.setattr(SQ, "_driver_lsh_edges",
                        lambda *a: solved.append(1) or driver(*a))
    monkeypatch.setattr(S, "band_buckets_np",
                        lambda t: bucketed.append(1) or buckets(t))
    text = "the quick brown fox jumps over the lazy dog again and again"
    d = spark.createDataFrame([(i, "en", text) for i in range(150)],
                              "doc_id bigint, lang string, text string")
    with _threshold(spark, "256k"):
        hot = {(r.d1, r.d2): (r.n_common, r.jaccard)
               for r in SQ.lsh_verified_edges(d).collect()}
    assert bucketed == [1] and solved == []
    with _threshold(spark, "64MB"):
        cool = {(r.d1, r.d2): (r.n_common, r.jaccard)
                for r in SQ.lsh_verified_edges(d).collect()}
    assert solved == [1]
    assert hot == cool
    n = len({text[i:i + 3] for i in range(len(text) - 2)})
    clique = {(a, b): (n, 1.0) for a in range(150) for b in range(a + 1, 150)}
    assert set(hot) == _capped_edges_python(clique, SQ.MAX_NEARDUP_DEGREE)
    assert set(hot.values()) == {(n, 1.0)}


# Jobs per near-dup query on the frozen benchmark corpus (perfbench/
# base, sf0.01), counted from the build through one noop write, as
# measured with the shared pair stage. Before it: c06 13 (its component
# seed re-ran the survivors' round-robin shuffle) and s26 9 (its
# id-set broadcast was forced; gated, AQE plans that join at runtime).
_NEARDUP_JOBS = {"s19_lsh_verified_neardup": 5, "s26_minhash_accuracy": 10,
                 "s29_bbit_minhash": 6, "c06_production_dedup_e2e": 12}


@pytest.mark.parametrize("name", sorted(_NEARDUP_JOBS))
def test_neardup_job_budget(spark, name):
    """Counted by job-id range, as test_w15_evaluates_each_merge_once
    counts; a job the pair stage adds (a lost checkpoint, a re-run
    subtree) fails here."""
    from mousedatapipeline_spark.plans import catalog

    corpus = str(Path(__file__).resolve().parents[1] / "perfbench" / "base")
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = dag.nextJobId()
    catalog.spark_queries()[name](spark, corpus) \
        .write.mode("overwrite").format("noop").save()
    jobs = dag.nextJobId() - j0
    assert jobs <= _NEARDUP_JOBS[name], jobs


def test_sqrtn_kmeans_nonempty_on_offset_sparse_ids(spark):
    """Seed stride anchored at MIN(vec_id): an offset, sparse id
    domain (where no id is divisible by the raw step — the ADVICE r09
    failure) must still yield a non-empty codebook covering every
    vector, identically to the SQL twin's (vec_id - mn) % step."""
    from pyspark.sql import functions as F
    ids = [1000 + 7 * i + (i % 3) for i in range(25)]  # sparse+offset
    e = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 7)], 0) for i in ids],
        "vec_id long, embedding array<double>, label long")
    cent = S.sqrtn_kmeans_centroids(e)
    rows = cent.collect()
    assert rows, "offset id domain must not empty the codebook"
    assert all(len(r["c"]) == 2 for r in rows)
    # every seed label is a real vec_id on the anchored stride
    mn = min(ids)
    import math
    step = max(1, (max(ids) - mn + 1) // math.ceil(math.sqrt(len(ids))))
    assert all((r["label"] - mn) % step == 0 for r in rows)
    assigned = S.assign_cells(
        e.select("vec_id",
                 F.col("embedding").alias("v")), cent)
    assert assigned.count() == len(ids)  # no vector silently dropped
