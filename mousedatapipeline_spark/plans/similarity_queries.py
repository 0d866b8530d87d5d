"""Dedup & similarity-search query catalog: exact dedup, n-gram Jaccard,
MinHash+LSH, SimHash, brute-force cosine KNN, and LSH-bucketed ANN —
each with a DuckDB oracle built from the same modular-integer hashing
and decimal-exact float sums (see operators/similarity.py for the scale
rationale of each shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mousedatapipeline_spark import scratch
from mousedatapipeline_spark.functions.rounding import (
    stable_round,
    stable_round_array,
    stable_round_sql,
)
from mousedatapipeline_spark.operators import graph as G
from mousedatapipeline_spark.operators import sampling as SA
from mousedatapipeline_spark.operators import similarity as S
from mousedatapipeline_spark.operators import text as T
from mousedatapipeline_spark.operators.aggregates import DEC, dsum, dsum_sql
from mousedatapipeline_spark.operators.similarity import MIN_SHARED_BANDS
from mousedatapipeline_spark.plans.catalog import _REGISTRY, register
from mousedatapipeline_spark.plans.text_queries import t03_quality_score
from mousedatapipeline_spark.tables import (
    fits_broadcast,
    load,
    load_spread,
)

_SQL_SHINGLES = """
      SELECT DISTINCT doc_id, lang, source,
             substr(text, CAST(pos AS INT), 3) AS shingle
      FROM documents,
           UNNEST(generate_series(1, greatest(length(text) - 2, 0))) AS t(pos)
"""

_SQL_DIMS = """
      SELECT vec_id, CAST(dim AS INT) AS dim,
             CAST(embedding[CAST(dim AS INT)] AS DOUBLE) AS v
      FROM embeddings,
           UNNEST(generate_series(1, len(embedding))) AS t(dim)
"""

_SQL_NORMS = f"""
      SELECT vec_id,
             SQRT({dsum_sql("v * v")}) AS norm
      FROM dims GROUP BY vec_id
"""


def _minhash_wide_sql() -> str:
    mins = ", ".join(
        f"MIN(({S.MINHASH_A[i]}::BIGINT * h + {S.MINHASH_B[i]}::BIGINT) "
        f"% 2147483647) AS mh{i}"
        for i in range(S.N_PERM))
    return f"SELECT doc_id, lang, {mins} FROM h GROUP BY doc_id, lang"


def _bands_wide_sql() -> str:
    selects = []
    for b in range(S.N_BANDS):
        cols = range(b * S.ROWS_PER_BAND, (b + 1) * S.ROWS_PER_BAND)
        sig = " || '-' || ".join(f"CAST(mh{i} AS VARCHAR)" for i in cols)
        selects.append(
            f"SELECT doc_id, lang, {b} AS band, {sig} AS band_sig FROM mh")
    return " UNION ALL ".join(selects)


# The near-dup pair stage's CTEs, each written once for every oracle
# that uses it (the degree_cap_sql() pattern). They read a shingle
# relation `sh` (doc_id, lang[, source], shingle) and, for cand_sql(),
# the `bands` CTE of _bands_wide_sql(); the Spark twins are named on
# each.
def sz_sql() -> str:
    """``sz`` (doc_id, n): shingle-set sizes. Spark twin: the ``n`` of
    ``operators.similarity.hashed_shingle_docs(with_n=True)``."""
    return ("sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n"
            " FROM sh GROUP BY doc_id)")


def blocked_common_sql() -> str:
    """``common`` (d1, d2, n_common) over ALL within-(lang, source)
    pairs sharing a shingle. Spark twin: ``operators.similarity.
    blocked_overlaps``."""
    return """common AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM sh a JOIN sh b
        ON a.shingle = b.shingle AND a.lang = b.lang
       AND a.source = b.source AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )"""


def cand_sql() -> str:
    """``cand`` (d1, d2): LSH candidates, pairs sharing at least
    MIN_SHARED_BANDS (lang, band, band_sig) buckets. Spark twin:
    ``operators.similarity.lsh_candidates``."""
    return f"""cand AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig
       AND a.lang = b.lang AND a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING COUNT(*) >= {MIN_SHARED_BANDS}
    )"""


def cand_common_sql() -> str:
    """``common`` (d1, d2, n_common) over the ``cand`` pairs. Keyed on
    doc_id alone, as the Spark twin's joins are
    (``operators.similarity.hashed_jaccard``)."""
    return """common AS (
      SELECT c.d1, c.d2, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM cand c
      JOIN sh a ON a.doc_id = c.d1
      JOIN sh b ON b.doc_id = c.d2 AND b.shingle = a.shingle
      GROUP BY c.d1, c.d2
    )"""


def verified_sql(min_jaccard: float, rounded: bool = False) -> str:
    """``verified`` (d1, d2, n_common, jr): the ``common`` pairs whose
    exact Jaccard over ``sz`` reaches ``min_jaccard``; the input of
    degree_cap_sql(). ``rounded`` stable-rounds ``jr`` (s14 ranks its
    cap on the rounded value in both engines)."""
    raw = ("CAST(m.n_common AS DOUBLE)"
           " / CAST(s1.n + s2.n - m.n_common AS DOUBLE)")
    jr = stable_round_sql(raw) if rounded else raw
    return f"""verified AS (
      SELECT m.d1, m.d2, m.n_common,
             {jr} AS jr
      FROM common m
      JOIN sz s1 ON s1.doc_id = m.d1
      JOIN sz s2 ON s2.doc_id = m.d2
      WHERE {raw} >= {min_jaccard}
    )"""


# --------------------------------------------------------------------------
# Exact dedup: hash-groupBy on content. One shuffle; at 100 TB this is
# the cheapest dedup pass and always runs first.
# --------------------------------------------------------------------------
@register(
    "s01_exact_dedup",
    oracle="""
    SELECT md5(text) AS content_hash,
           MIN(doc_id) AS canonical_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_ids
    FROM documents
    GROUP BY md5(text)
    """,
    doc="Exact deduplication: md5 content hash groupBy, canonical id = "
        "min(doc_id), members listed in id order.",
)
def s01_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    members = F.concat_ws(",", F.transform(
        F.array_sort(F.collect_list("doc_id")), lambda x: x.cast("string")))
    return (
        d.groupBy(T.content_hash(F.col("text")).alias("content_hash"))
        .agg(F.min("doc_id").alias("canonical_id"),
             F.count(F.lit(1)).cast("bigint").alias("n_copies"),
             members.alias("doc_ids"))
    )


# --------------------------------------------------------------------------
# N-gram Jaccard near-dup, blocked by (lang, source): the quadratic pair
# space is bounded by the largest block (~112 docs at sf0.1), which is
# the knob that keeps this shape alive at scale.
# --------------------------------------------------------------------------
def exact_jaccard_edges(docs: DataFrame, redistribute: int) -> DataFrame:
    """s02's exact blocked enumeration over an arbitrary documents
    frame (doc_id, lang, source, text[, ...]) — (d1, d2, n_common,
    jaccard_raw) pairs with 3-gram Jaccard >= 0.6 within (lang,
    source) blocks. Factored out so the s14 funnel can run the
    IDENTICAL stage over exact-dedup survivors (the c06 relationship)
    without re-stating the plan.

    Physical strategy choice: an inverted-index join (explode on
    shingle, self-join, count) blows up when the shingle vocabulary is
    small — here only ~400 distinct 3-grams exist, so shingle groups
    are huge and the join emits ~14M intermediate rows at sf0.1.
    Instead the shingle SET is computed as a per-row array expression
    (zero shuffles — a document's shingle set is row-local), pairs are
    generated per (lang, source) block without a self-join
    (S.blocked_overlaps), and the overlap is a JVM-side array_intersect.
    One small shuffle total; pair count bounded by block size.
    With large blocks + rich vocabulary the inverted index wins; the
    true scale path is s03's MinHash banding.
    Docs shorter than 3 chars drop out (S.blocked_overlaps), matching
    the oracle's shingle relation.

    Length filter (PPJoin-family, exact): J <= min/max, so a pair with
    5*min(n1,n2) < 3*max(n1,n2) can never reach 0.6 — it skips its
    intersect entirely (integer compare, no float boundary; ~28% of
    candidate pairs on this corpus). n_common=0 keeps the skipped pair
    below every downstream threshold, matching the oracle's WHERE on
    the true Jaccard.
    """
    pairs = S.blocked_overlaps(
        docs, redistribute,
        feasible=lambda n1, n2: F.least(n1, n2) * 5 >= F.greatest(n1, n2) * 3)
    scored = pairs.withColumn(
        "jaccard_raw",
        S.jaccard_col(F.col("n_common"), F.col("n_1"), F.col("n_2")))
    return scored.filter(F.col("jaccard_raw") >= 0.6) \
        .select("d1", "d2", "n_common", "jaccard_raw")


@register(
    "s02_ngram_jaccard",
    oracle=f"""
    WITH sh AS ({_SQL_SHINGLES}),
    {sz_sql()},
    {blocked_common_sql()}
    SELECT d1, d2, n_common,
           {stable_round_sql(
               'CAST(n_common AS DOUBLE) / CAST(x.n + y.n - n_common AS DOUBLE)')}
             AS jaccard
    FROM common JOIN sz x ON d1 = x.doc_id JOIN sz y ON d2 = y.doc_id
    WHERE CAST(n_common AS DOUBLE) / CAST(x.n + y.n - n_common AS DOUBLE) >= 0.6
    """,
    doc="Near-dup detection: 3-gram shingle Jaccard >= 0.6 within "
        "(lang, source) blocks.",
)
def s02_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Plan rationale lives on exact_jaccard_edges (shared with s14's
    # funnel).
    scored = exact_jaccard_edges(
        load_spread(spark, sf_dir, "documents"),
        redistribute=spark.sparkContext.defaultParallelism)
    return scored.select("d1", "d2", "n_common",
                         stable_round(F.col("jaccard_raw"))
                         .alias("jaccard"))


# --------------------------------------------------------------------------
# MinHash + LSH banding: the scale path for near-dup — candidates come
# only from shared (lang, band, signature) buckets, never all-pairs.
# --------------------------------------------------------------------------
@register(
    "s03_minhash_lsh",
    oracle=f"""
    WITH sh AS ({_SQL_SHINGLES}),
    h AS (SELECT doc_id, lang, {S.SHINGLE_HASH_SQL} AS h FROM sh),
    mh AS ({_minhash_wide_sql()}),
    bands AS ({_bands_wide_sql()})
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           CAST(COUNT(*) AS BIGINT) AS shared_bands
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_sig = b.band_sig
     AND a.lang = b.lang AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """,
    doc="MinHash (16 perms) + LSH (4 bands x 4): near-dup candidate "
        "pairs sharing at least one band bucket. Wide formulation: one "
        "groupBy with 16 MIN columns — shuffle volume = shingle count, "
        "not 16x it.",
)
def s03_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Signature computation is fully per-row (S.minhash_cols): the
    # shingle-hash array and all 16 permutation minima are array
    # expressions — zero shuffles until the bucket self-join
    # (S.band_pairs), then one count shuffle keyed (d1, d2).
    # load_spread: documents.parquet is a single file -> a single input
    # partition, and the per-row signature work below (~|text| shingles
    # x 16 perms per doc) would otherwise run in ONE task.
    d = load_spread(spark, sf_dir, "documents")
    # hashed_shingle_docs: hs is a checkpointed materialized column so
    # the 16 minhash projections share ONE shingle-scan evaluation
    # (inline expressions would be duplicated into every column by
    # CollapseProject — measured 8x slower). Shingle-less docs are
    # dropped before banding (the oracle's shingle relation has no
    # rows for them).
    hashed = S.hashed_shingle_docs(d)
    sig = hashed.select("doc_id", "lang", *S.minhash_cols(F.col("hs")))
    bands = S.band_signatures_wide(sig, ["doc_id", "lang"])
    # Materialize the (small) bands table once: both sides of the
    # self-join read it, and Spark does not reliably reuse the subtree
    # (different pushed-down projections defeat exchange reuse) — the
    # whole per-row signature pipeline would run twice. On a cluster
    # persist(MEMORY_AND_DISK) serves the same role. Kept lazy: r09's
    # interleaved A/B read a tie (3.24/3.28 s) — s03's cost is its
    # pair OUTPUT, and the hashed checkpoint under sig already bounds
    # the corpus scan to one run.
    return S.band_pairs(bands.localCheckpoint(eager=False))


# --------------------------------------------------------------------------
# SimHash: 16-bit count-weighted token fingerprint; near-dups = hamming
# distance <= 3 within (lang, source) blocks.
# --------------------------------------------------------------------------
@register(
    "s04_simhash",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, source, t AS token, CAST(COUNT(*) AS BIGINT) AS n
      FROM documents,
           UNNEST(list_filter(string_split(lower(text), ' '),
                              x -> x <> '')) AS u(t)
      GROUP BY 1, 2, 3, 4
    ),
    th AS (
      SELECT *, ((ascii(substr(token, 1, 1)) * 8191
                  + ascii(substr(token, length(token), 1)) * 131
                  + length(token)) % 2147483647) % 65536 AS th16
      FROM tok
    ),
    per_bit AS (
      SELECT doc_id, lang, source, j, w,
             SUM(n * (((th16 // w) % 2) * 2 - 1)) AS s
      FROM th, {S.bit_weights_sql()}
      GROUP BY 1, 2, 3, 4, 5
    ),
    sim AS (
      SELECT doc_id, lang, source,
             CAST(SUM(CASE WHEN s > 0 THEN w ELSE 0 END) AS BIGINT) AS simhash
      FROM per_bit GROUP BY 1, 2, 3
    )
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM sim a JOIN sim b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    doc="SimHash near-dup: 16-bit count-weighted token fingerprint, "
        "pairs at hamming <= 3 within (lang, source) blocks.",
)
def s04_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The SimHash is a per-row expression over the raw token array
    # (S.simhash_col — count weighting falls out of aggregating with
    # multiplicity): zero shuffles to compute 5000 signatures. Pairing
    # is blocked per (lang, source) without a self-join. load_spread
    # (r10): tokenize + 16 per-bit aggregates per row is the expensive
    # scan-stage work the spread idiom exists for.
    d = load_spread(spark, sf_dir, "documents")
    # Stage the token-hash array so the 16 per-bit aggregates share it.
    hashed = d.select(
        "doc_id", "lang", "source",
        S.token_hashes_16bit(T.tokens(F.col("text"))).alias("ths"))
    sim = hashed.select("doc_id", "lang", "source",
                        S.simhash_col(F.col("ths")).alias("simhash"))
    # redistribute (r10): without it AQE coalesces the tiny-by-bytes
    # block stage to ONE partition and the whole O(block²) pair
    # enumeration runs single-task (measured 1.4 s on one core at
    # sf0.1) — the same fix every other blocked_pairs caller carries.
    pairs = S.blocked_pairs(
        sim, ["lang", "source"], {"simhash": "sh"},
        redistribute=spark.sparkContext.defaultParallelism)
    out = pairs.withColumn(
        "hamming", F.bit_count(F.expr("sh_1 ^ sh_2")).cast("int"))
    return out.filter(F.col("hamming") <= 3).select("d1", "d2", "hamming")


# --------------------------------------------------------------------------
# Brute-force cosine KNN: the correctness baseline for ANN. Exact decimal
# dot products; top-k by (rounded cosine, id) so ordering is
# engine-independent.
# --------------------------------------------------------------------------
@register(
    "s05_knn_cosine",
    oracle=f"""
    WITH dims AS ({_SQL_DIMS}),
    norms AS ({_SQL_NORMS}),
    dots AS (
      SELECT q.vec_id AS qid, c.vec_id AS cid,
             {dsum_sql("q.v * c.v")} AS dot
      FROM dims q JOIN dims c ON q.dim = c.dim
      WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
      GROUP BY 1, 2
    ),
    cos AS (
      SELECT qid, cid,
             CASE WHEN qn.norm > 0 AND cn.norm > 0
                  THEN dot / (qn.norm * cn.norm) ELSE 0.0 END AS cosine
      FROM dots JOIN norms qn ON qid = qn.vec_id
                JOIN norms cn ON cid = cn.vec_id
    ),
    ranked AS (
      SELECT qid, cid, {stable_round_sql('cosine')} AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY qid
               ORDER BY {stable_round_sql('cosine')} DESC, cid) AS rank
      FROM cos
    )
    SELECT qid, cid, CAST(rank AS INT) AS rank, cosine
    FROM ranked WHERE rank <= 5
    """,
    doc="Brute-force cosine top-5 for query vectors vec_id < 10 — the "
        "exact baseline ANN is judged against.",
)
def s05_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Array-native brute force: the <=10 query VECTORS broadcast as
    # whole arrays against every candidate row; each cosine is one
    # JVM-side double zip_with (fixed summation order — stable_round
    # absorbs the sub-ulp drift vs the oracle's decimal sums). The only
    # shuffle is the final per-query top-k window. The dim-exploded
    # variant (S.cosine_pairs) shuffled |Q|x|C|x64 rows into a groupBy.
    from pyspark.sql import Window

    e = load(spark, sf_dir, "embeddings")
    vecs = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    vecs = vecs.withColumn("norm", F.sqrt(S.ddot(F.col("v"), F.col("v"))))
    q = vecs.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"))
    c = vecs.select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"),
                    F.col("norm").alias("cnorm"))
    cos = (
        c.join(F.broadcast(q))
        .filter(F.col("qid") != F.col("cid"))
        .withColumn("dot", S.ddot(F.col("qv"), F.col("cv")))
        .withColumn(
            "cosine",
            stable_round(
                F.when((F.col("qnorm") > 0) & (F.col("cnorm") > 0),
                       F.col("dot") / (F.col("qnorm") * F.col("cnorm")))
                .otherwise(F.lit(0.0)))))
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(),
                                          F.col("cid").asc())
    return (
        cos.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 5)
        .select("qid", "cid", "rank", "cosine")
    )


# --------------------------------------------------------------------------
# LSH-bucketed ANN: 8 deterministic sign-hyperplanes -> 256 buckets;
# candidates share the query's bucket, then exact cosine re-rank. This is
# the scale path: bucket size, not corpus size, bounds the join.
# --------------------------------------------------------------------------
_SQL_PLANES = ("(VALUES " + ", ".join(f"({p}, {1 << p})" for p in range(8))
               + ") AS pl(p, w)")
_SQL_SIGN = ("CASE WHEN ((p * 2654435761 + dim * 40503) % 2147483647) % 2 = 0 "
             "THEN 1.0 ELSE -1.0 END")


@register(
    "s06_ann_lsh",
    oracle=f"""
    WITH dims AS ({_SQL_DIMS}),
    norms AS ({_SQL_NORMS}),
    proj AS (
      SELECT vec_id, p, w,
             {dsum_sql(f"({_SQL_SIGN}) * v")} AS proj
      FROM dims, {_SQL_PLANES}
      GROUP BY 1, 2, 3
    ),
    buckets AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN proj > 0 THEN w ELSE 0 END) AS BIGINT) AS bucket
      FROM proj GROUP BY 1
    ),
    cand AS (
      SELECT q.vec_id AS qid, c.vec_id AS cid, q.bucket
      FROM buckets q JOIN buckets c ON q.bucket = c.bucket
      WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
    ),
    dots AS (
      SELECT cand.qid, cand.cid, cand.bucket,
             {dsum_sql("q.v * c.v")} AS dot
      FROM cand JOIN dims q ON cand.qid = q.vec_id
                JOIN dims c ON cand.cid = c.vec_id AND q.dim = c.dim
      GROUP BY 1, 2, 3
    ),
    cos AS (
      SELECT qid, cid, bucket,
             CASE WHEN qn.norm > 0 AND cn.norm > 0
                  THEN dot / (qn.norm * cn.norm) ELSE 0.0 END AS cosine
      FROM dots JOIN norms qn ON qid = qn.vec_id
                JOIN norms cn ON cid = cn.vec_id
    ),
    ranked AS (
      SELECT qid, cid, bucket, {stable_round_sql('cosine')} AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY qid
               ORDER BY {stable_round_sql('cosine')} DESC, cid) AS rank
      FROM cos
    )
    SELECT qid, cid, bucket, CAST(rank AS INT) AS rank, cosine
    FROM ranked WHERE rank <= 3
    """,
    doc="ANN via sign-hyperplane LSH (8 planes, 256 buckets) + exact "
        "cosine re-rank within the query's bucket.",
)
def s06_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Array-native (see s05/s08): each plane's projection is a
    # signed fold over the vector array — 8 independent staged columns
    # (separate select stages so CollapseProject cannot duplicate the
    # shared subtrees; see minhash_cols note). No dim explosion, no
    # projection shuffle; the bucket self-match is a broadcast join of
    # the <=10 query rows. Bucket parity across engines holds because
    # sign flips need |proj| < ~1e-13, far below the data's scale.
    from pyspark.sql import Window

    def proj_col(p: int):
        def signed(x, i):
            even = ((F.lit(p) * F.lit(2_654_435_761)
                     + (i + 1) * F.lit(40_503)) % S.MOD) % 2 == 0
            return F.when(even, x).otherwise(-x)
        return F.aggregate(F.transform("v", signed),
                           F.lit(0.0), lambda acc, x: acc + x)

    e = load(spark, sf_dir, "embeddings")
    vecs = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    vecs = vecs.withColumn("norm", F.sqrt(S.ddot(F.col("v"), F.col("v"))))
    projected = vecs.select(
        "vec_id", "v", "norm",
        *[proj_col(p).alias(f"pr{p}") for p in range(8)])
    bucket_expr = sum(
        (F.when(F.col(f"pr{p}") > 0, F.lit(1 << p)).otherwise(F.lit(0))
         for p in range(1, 8)),
        F.when(F.col("pr0") > 0, F.lit(1)).otherwise(F.lit(0)))
    buckets = projected.select(
        "vec_id", "v", "norm", bucket_expr.cast("bigint").alias("bucket"))
    qb = buckets.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), "bucket",
        F.col("v").alias("qv"), F.col("norm").alias("qnorm"))
    cb = buckets.select(F.col("vec_id").alias("cid"), "bucket",
                        F.col("v").alias("cv"), F.col("norm").alias("cnorm"))
    cand = (F.broadcast(qb).join(cb, "bucket")
            .filter(F.col("qid") != F.col("cid")))
    cos = (
        cand.withColumn("dot", S.ddot(F.col("qv"), F.col("cv")))
        .withColumn(
            "cosine",
            stable_round(
                F.when((F.col("qnorm") > 0) & (F.col("cnorm") > 0),
                       F.col("dot") / (F.col("qnorm") * F.col("cnorm")))
                .otherwise(F.lit(0.0)))))
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(),
                                          F.col("cid").asc())
    return (
        cos.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .select("qid", "cid", "bucket", "rank", "cosine")
    )


@register(
    "s07_label_centroids",
    oracle=f"""
    WITH dims AS ({_SQL_DIMS.replace("embeddings", "embeddings").strip()}
    ),
    labeled AS (
      SELECT e.label, d.dim, d.v
      FROM embeddings e JOIN dims d ON e.vec_id = d.vec_id
    )
    SELECT label, dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           {stable_round_sql(
               dsum_sql("v") + " / CAST(COUNT(*) AS DOUBLE)")} AS centroid_v
    FROM labeled GROUP BY label, dim
    """,
    doc="Per-label embedding centroids (the IVF coarse-quantizer "
        "training step): one groupBy on (label, dim) with exact decimal "
        "means — the uniform dim key makes the shuffle skew-free.",
)
def s07_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    dims = S.vector_dims(e, "vec_id", "embedding")
    labeled = dims.join(e.select("vec_id", "label"), "vec_id")
    return labeled.groupBy("label", "dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        stable_round(dsum("v") / F.count(F.lit(1)).cast("double"))
        .alias("centroid_v"))


# --------------------------------------------------------------------------
# Embedding-cosine near-dup: the dedup-by-embedding pass (distinct from
# s05/s06 similarity SEARCH — this emits duplicate PAIRS above a cosine
# threshold, like s02-s04 do for text). Blocked by label; at 100 TB the
# block key becomes an LSH bucket (s06) or IVF cell (s08) so the
# quadratic term stays bounded — the threshold + re-rank shape is
# identical.
# --------------------------------------------------------------------------
_NEARDUP_TAU = 0.35


@register(
    "s09_embedding_neardup",
    oracle=f"""
    WITH dims AS ({_SQL_DIMS}),
    norms AS ({_SQL_NORMS}),
    lab AS (SELECT vec_id, label FROM embeddings),
    dots AS (
      SELECT a.vec_id AS d1, b.vec_id AS d2, la.label,
             {dsum_sql("a.v * b.v")} AS dot
      FROM dims a
      JOIN lab la ON a.vec_id = la.vec_id
      JOIN lab lb ON la.label = lb.label
      JOIN dims b ON b.vec_id = lb.vec_id AND a.dim = b.dim
      WHERE a.vec_id < b.vec_id
      GROUP BY 1, 2, 3
    ),
    cos AS (
      SELECT d1, d2, label,
             CASE WHEN x.norm > 0 AND y.norm > 0
                  THEN dot / (x.norm * y.norm) ELSE 0.0 END AS cosine
      FROM dots JOIN norms x ON d1 = x.vec_id
                JOIN norms y ON d2 = y.vec_id
    )
    SELECT d1, d2, CAST(label AS INT) AS label,
           {stable_round_sql('cosine')} AS cosine
    FROM cos WHERE cosine >= {_NEARDUP_TAU}
    """,
    doc="Embedding-cosine near-duplicate pairs: exact decimal dot "
        "products within label blocks, pairs at cosine >= "
        f"{_NEARDUP_TAU}. Array-native (zip_with + decimal aggregate "
        "per pair) — no dim explosion, no shuffle beyond the block "
        "grouping.",
)
def s09_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Physical strategy: unlike s05/s06/s08 (which explode to (vec, dim)
    # rows because the query side is tiny and broadcast), near-dup is
    # symmetric all-pairs-within-block — exploding would shuffle
    # |block|^2 * 64 rows into the dot groupBy. Instead each vector stays
    # a row-local array: norms are per-row decimal aggregates (zero
    # shuffles), pairs come from S.blocked_pairs (one groupBy on label),
    # and each pair's dot product is a JVM-side zip_with evaluated
    # INSIDE the pair lambda, so pair structs carry three scalars, never
    # vector copies (see blocked_pairs GC note).
    # Dots and norms are double folds (S.ddot): row-local fixed-order
    # sums, deterministic, and within stable_round's nudge of the
    # oracle's decimal sums — see the ddot docstring.
    e = load(spark, sf_dir, "embeddings")
    vecs = e.select(
        F.col("vec_id").alias("doc_id"), "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    withnorm = vecs.select(
        "doc_id", "label", "v",
        F.sqrt(S.ddot(F.col("v"), F.col("v"))).alias("norm"))
    pairs = S.blocked_pairs(
        withnorm, ["label"], {"v": "v", "norm": "norm"},
        redistribute=spark.sparkContext.defaultParallelism,
        combine=lambda x, y: [
            S.ddot(x["v"], y["v"]).alias("dot"),
            x["norm"].alias("norm_1"), y["norm"].alias("norm_2"),
        ])
    cos = pairs.withColumn(
        "cosine_raw",
        F.when((F.col("norm_1") > 0) & (F.col("norm_2") > 0),
               F.col("dot") / (F.col("norm_1") * F.col("norm_2")))
        .otherwise(F.lit(0.0)))
    return (
        cos.filter(F.col("cosine_raw") >= _NEARDUP_TAU)
        .select("d1", "d2", F.col("label").cast("int").alias("label"),
                stable_round(F.col("cosine_raw")).alias("cosine"))
    )


@register(
    "s08_ann_ivf",
    oracle=f"""
    WITH dims AS ({_SQL_DIMS}),
    norms AS ({_SQL_NORMS}),
    labeled AS (
      SELECT e.label, d.dim, d.v
      FROM embeddings e JOIN dims d ON e.vec_id = d.vec_id
    ),
    centroids AS (
      SELECT label, dim,
             {dsum_sql("v")}
               / CAST(COUNT(*) AS DOUBLE) AS cv
      FROM labeled GROUP BY label, dim
    ),
    cdots AS (
      SELECT d.vec_id, c.label,
             {dsum_sql("d.v * c.cv")} AS dot
      FROM dims d JOIN centroids c ON d.dim = c.dim
      GROUP BY d.vec_id, c.label
    ),
    assign AS (
      SELECT vec_id, label AS cell
      FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY vec_id
              ORDER BY {stable_round_sql('dot')} DESC, label) AS rn
            FROM cdots)
      WHERE rn = 1
    ),
    cand AS (
      SELECT q.vec_id AS qid, c.vec_id AS cid, q.cell
      FROM assign q JOIN assign c ON q.cell = c.cell
      WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
    ),
    dots AS (
      SELECT cand.qid, cand.cid, cand.cell,
             {dsum_sql("q.v * c.v")} AS dot
      FROM cand JOIN dims q ON cand.qid = q.vec_id
                JOIN dims c ON cand.cid = c.vec_id AND q.dim = c.dim
      GROUP BY 1, 2, 3
    ),
    cos AS (
      SELECT qid, cid, cell,
             CASE WHEN qn.norm > 0 AND cn.norm > 0
                  THEN dot / (qn.norm * cn.norm) ELSE 0.0 END AS cosine
      FROM dots JOIN norms qn ON qid = qn.vec_id
                JOIN norms cn ON cid = cn.vec_id
    ),
    ranked AS (
      SELECT qid, cid, cell, {stable_round_sql('cosine')} AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY qid
               ORDER BY {stable_round_sql('cosine')} DESC, cid) AS rank
      FROM cos
    )
    SELECT qid, cid, cell, CAST(rank AS INT) AS rank, cosine
    FROM ranked WHERE rank <= 3
    """,
    doc="ANN via IVF: per-label centroids are the trained coarse "
        "quantizer (s07); vectors are assigned to their max-dot-product "
        "cell, queries probe only their own cell, exact cosine re-rank "
        "inside. The candidate set is bounded by cell size — the "
        "inverted-file contract that survives corpus growth.",
)
def s08_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Physical strategy (v2, array-native like s09): only centroid
    # TRAINING uses (vec, dim) rows (it must aggregate across vectors
    # per dim — one explode, one skew-free shuffle, exact decimal means
    # for cross-engine centroid parity). Assignment and re-rank keep
    # each vector as a row-local array: the centroid arrays broadcast
    # against every vector, each dot is a JVM-side double zip_with
    # (fixed 64-term order — deterministic, and stable_round's nudge
    # absorbs the <=1e-13-relative drift vs the oracle's decimal sums,
    # see functions/rounding.py), and the per-vector argmax is ONE
    # map-side-combinable max-of-struct aggregation that carries the
    # vector through — no 64x dim explosion, no (cid, dim) shuffle
    # join, no window over array-carrying rows, no norm join.
    from pyspark.sql import Window

    e = load(spark, sf_dir, "embeddings")
    vecs = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    vecs = vecs.withColumn("norm", F.sqrt(S.ddot(F.col("v"), F.col("v"))))
    # Coarse quantizer: the ONE shared training + argmax-assignment
    # definition (operators/similarity.train_label_centroids /
    # assign_cells) that s35/s37 and every oracle mirror; (v, norm)
    # ride the assignment's max-of-struct as carry payload.
    cent_arr = S.train_label_centroids(e)
    assign = S.assign_cells(vecs, cent_arr, carry=["v", "norm"])
    # The tiny (vec_id, cell, v, norm) table feeds BOTH probe sides;
    # EAGER checkpoint so the training+assignment subtree (now
    # including the hot-cell guard's count branch) runs exactly once —
    # lazy cannot serve the second branch inside the one materializing
    # job (the r07/r08 sweep; same idiom as s35/s37/s38).
    assign = assign.localCheckpoint(eager=True)
    # Probe: same-cell candidates only; exact cosine re-rank within.
    qa = assign.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), "cell",
        F.col("v").alias("qv"), F.col("norm").alias("qnorm"))
    ca = assign.select(F.col("vec_id").alias("cid"), "cell",
                       F.col("v").alias("cv2"), F.col("norm").alias("cnorm"))
    cand = (F.broadcast(qa).join(ca, "cell")
            .filter(F.col("qid") != F.col("cid")))
    cos = cand.withColumn(
        "dot", S.ddot(F.col("qv"), F.col("cv2"))).withColumn(
        "cosine",
        stable_round(
            F.when((F.col("qnorm") > 0) & (F.col("cnorm") > 0),
                   F.col("dot") / (F.col("qnorm") * F.col("cnorm")))
            .otherwise(F.lit(0.0))))
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(),
                                          F.col("cid").asc())
    return (
        cos.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .select("qid", "cid", "cell", "rank", "cosine")
    )


# --------------------------------------------------------------------------
# Iterative k-means (Lloyd) refinement of the IVF coarse quantizer: the
# canonical iterative-algorithm-on-Spark shape. Each round broadcasts
# the (tiny) centroid arrays, assigns every vector with a row-local
# distance fold + map-side-combinable argmin, and re-estimates centroids
# with one (cell, dim) shuffle. Rounds are driver-unrolled (2 here);
# at scale the loop runs until movement < eps with the same per-round
# plan — state between rounds is only k x dim doubles on the driver.
# --------------------------------------------------------------------------
def _km_assign(vecs: DataFrame, cent_arr: DataFrame) -> DataFrame:
    """argmin_cell ||v - c||^2 per vector; ties break on cell id."""
    d2 = F.aggregate(
        F.zip_with("v", "c", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x)
    scored = vecs.join(F.broadcast(cent_arr)).withColumn("dist", d2)
    best = scored.groupBy("vec_id").agg(
        F.min(F.struct(
            stable_round(F.col("dist")).alias("rd"),
            F.col("cell").alias("cell"),
            F.col("v").alias("v"))).alias("b"))
    return best.select("vec_id", F.col("b.cell").alias("cell"),
                       F.col("b.v").alias("v"))


def _km_centroids(assigned: DataFrame) -> DataFrame:
    """Exact decimal per-(cell, dim) means of the assigned vectors."""
    dims = assigned.select(
        "cell", F.posexplode("v").alias("pos", "val"))
    return dims.groupBy("cell", (F.col("pos") + 1).alias("dim")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (dsum("val") / F.count(F.lit(1)).cast("double")).alias("cv"))


def _km_to_arrays(cent: DataFrame) -> DataFrame:
    return cent.groupBy("cell").agg(
        F.transform(F.array_sort(F.collect_list(F.struct("dim", "cv"))),
                    lambda s: s["cv"]).alias("c"))


def _km_sql_assign(i: int, j: int) -> str:
    """k-means round i: assign every vector to its nearest c{j} centroid
    and recompute the centroids as c{i}."""
    return f"""
    dist{i} AS (
      SELECT d.vec_id, c.cell,
             {dsum_sql("(d.v - c.cv) * (d.v - c.cv)")} AS dist
      FROM dims d JOIN c{j} c ON d.dim = c.dim GROUP BY 1, 2
    ),
    a{i} AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY {stable_round_sql('dist')} ASC,
                                           cell ASC) AS rn
        FROM dist{i})
      WHERE rn = 1
    ),
    c{i} AS (
      SELECT a.cell, d.dim,
             CAST(COUNT(*) AS BIGINT) AS n,
             {dsum_sql("d.v")}
               / CAST(COUNT(*) AS DOUBLE) AS cv
      FROM dims d JOIN a{i} a ON d.vec_id = a.vec_id GROUP BY 1, 2
    )"""


def sqrtn_quantizer_sql() -> str:
    """CTE chain mirroring operators.similarity.sqrtn_kmeans_centroids
    followed by assign_cells, over a CTE named ``dims`` (vec_id, dim,
    v): exposes ``c1`` (cell, dim, cv — the Lloyd-refined ceil(sqrt(N))
    codebook) and ``assign`` (vec_id, cell — the final argmax-dot
    assignment, ties (rounded dot DESC, cell ASC)). ONE definition for
    every consumer oracle (the degree_cap_sql() pattern), so the SQL
    twins can never desynchronize from the Spark quantizer: seed
    stride, Lloyd fold, tie-breaks and rounding all live here and in
    the operator, nowhere else."""
    return f"""
    nk AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(MIN(vec_id) AS BIGINT) AS mn,
             CAST(MAX(vec_id) AS BIGINT) AS mx
      FROM embeddings
    ),
    st AS (
      -- stride anchored at MIN(vec_id): provably non-empty seeds on
      -- sparse/offset id domains (min always qualifies); identical to
      -- the old vec_id % step on dense 0-based ids (ADVICE r09)
      SELECT mn,
             GREATEST(CAST(1 AS BIGINT),
                      (mx - mn + 1) // CAST(CEIL(SQRT(CAST(n AS DOUBLE)))
                                            AS BIGINT)) AS step
      FROM nk
    ),
    seeds AS (
      SELECT e.vec_id AS cell FROM embeddings e, st
      WHERE (e.vec_id - st.mn) % st.step = 0
    ),
    c0 AS (
      SELECT s.cell, d.dim, d.v AS cv
      FROM seeds s JOIN dims d ON d.vec_id = s.cell
    ),
    kdist AS (
      -- DECIMAL(38,18): the Spark side folds these distances in IEEE
      -- double (they only feed the argmin ordering); per-term
      -- quantization at 1e-18 x dims sits ~7 orders below
      -- stable_round's nudge width, so a near-tied argmin can never
      -- flip between engines on scale alone (ADVICE r09; at (30,10)
      -- the worst case was ~5e-11 x dims, uncomfortably close)
      SELECT d.vec_id, c.cell,
             CAST(CAST(SUM(CAST((d.v - c.cv) * (d.v - c.cv)
                                AS DECIMAL(38,18))) AS VARCHAR)
                  AS DOUBLE) AS dist
      FROM dims d JOIN c0 c ON d.dim = c.dim
      GROUP BY 1, 2
    ),
    ka AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell, ROW_NUMBER() OVER (
            PARTITION BY vec_id
            ORDER BY {stable_round_sql('dist')} ASC, cell ASC) AS rn
        FROM kdist)
      WHERE rn = 1
    ),
    c1 AS (
      SELECT a.cell, d.dim,
             {dsum_sql("d.v")} / CAST(COUNT(*) AS DOUBLE) AS cv
      FROM dims d JOIN ka a ON d.vec_id = a.vec_id
      GROUP BY 1, 2
    ),
    qdots AS (
      -- DECIMAL(38,18): same rationale as kdist (argmin-only values)
      SELECT d.vec_id, c.cell,
             CAST(CAST(SUM(CAST(d.v * c.cv AS DECIMAL(38,18)))
                       AS VARCHAR) AS DOUBLE) AS dot
      FROM dims d JOIN c1 c ON d.dim = c.dim
      GROUP BY 1, 2
    ),
    assign AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell, ROW_NUMBER() OVER (
            PARTITION BY vec_id
            ORDER BY {stable_round_sql('dot')} DESC, cell ASC) AS rn
        FROM qdots)
      WHERE rn = 1
    )"""


@register(
    "s10_kmeans_ivf",
    oracle=f"""
    WITH dims AS ({_SQL_DIMS}),
    c0 AS (
      SELECT e.label AS cell, d.dim,
             {dsum_sql("d.v")}
               / CAST(COUNT(*) AS DOUBLE) AS cv
      FROM dims d JOIN embeddings e ON d.vec_id = e.vec_id GROUP BY 1, 2
    ),
    {_km_sql_assign(1, 0)},
    {_km_sql_assign(2, 1)}
    SELECT CAST(cell AS INT) AS cell, CAST(dim AS INT) AS dim, n,
           {stable_round_sql('cv')} AS centroid_v
    FROM c2
    """,
    doc="Iterative k-means (2 Lloyd rounds, label-mean init) refining "
        "the IVF coarse quantizer: per-round broadcast-centroid "
        "assignment (row-local distance folds, argmin via min-of-"
        "struct) + one (cell, dim) shuffle for re-estimation. "
        "Deterministic: exact decimal centroid means, stable-rounded "
        "distances, cell-id tie-breaks.",
)
def s10_kmeans_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    vecs = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    init = e.select("vec_id", F.col("label").alias("cell")) \
        .join(vecs, "vec_id")
    cent = _km_centroids(init).drop("n")
    for _ in range(2):
        # Checkpoint the k x dim centroid table each round: without it
        # round N's plan embeds rounds 1..N-1 (lineage doubles per
        # iteration — the classic iterative-Spark trap). Eager: the
        # table is tiny and materializing per round keeps every
        # round's corpus pass reading a finished codebook (r09 A/B
        # 1.82 -> 1.66 s).
        arrays = _km_to_arrays(cent).localCheckpoint(eager=True)
        assigned = _km_assign(vecs, arrays)
        full = _km_centroids(assigned)
        cent = full.drop("n")
    return full.select(
        F.col("cell").cast("int").alias("cell"),
        F.col("dim").cast("int").alias("dim"), "n",
        stable_round(F.col("cv")).alias("centroid_v"))


# In-plan edge-mass guard (r06 verdict): a verified near-dup edge list
# grows quadratically in duplicate mass (a cluster of N mutual
# near-dups is an N^2/2 clique — 30x-replication probes hit ~50M edges
# and the iterative consumers s40/s43 ran unbounded). The guard is a
# symmetric UNION top-m degree cap: explode each verified edge in both
# directions, rank per node by (jaccard DESC, neighbor ASC), and keep
# an edge iff EITHER endpoint ranks it <= m. Properties that make this
# the right cap (see tests/test_text_similarity.py):
# - total edge mass <= m * |V| (each node contributes <= m picks):
#   every downstream |E|-join (s14's CC seed, s40 PageRank, s43 label
#   propagation, c06 components) is linear in the corpus, never
#   quadratic in duplicate mass — the same contract blocked_pairs'
#   max_block raise gives the all-pairs path (similarity.py:368);
# - no node is ever isolated (its own top-1 pick always survives), so
#   near-dup clusters keep a canonical: an equal-jaccard clique stays
#   one component because every member picks the min-id member
#   (mutual-kNN AND-capping would shatter large cliques instead);
# - deterministic: (jr DESC, nbr ASC) totally orders each partition in
#   both engines (jr is one IEEE division of exact integer counts).
# m=64 is a no-op at the driver-gate SFs (max degree: 13 at sf0.001,
# 17 at sf0.01) and binds only in hub clusters at sf0.1 (max degree
# 220; 49,526 of 56,329 edges survive on s19's 0.5-threshold list).
MAX_NEARDUP_DEGREE = 64


def degree_cap_sql() -> str:
    """CTE chain applying the union top-m degree cap to a CTE named
    ``verified`` with columns (d1, d2, n_common, jr); exposes the
    surviving edges as a CTE named ``capped`` with the same columns.
    ONE definition shared by the s19 / s14 oracles and c06's composed
    funnel oracle so the SQL twins can never desynchronize from each
    other (the Spark twin is :func:`operators.similarity.
    degree_cap_edges`, the tail of :func:`lsh_verified_edges`)."""
    return f"""
    vund AS (
      SELECT d1 AS node, d2 AS nbr, n_common, jr FROM verified
      UNION ALL
      SELECT d2 AS node, d1 AS nbr, n_common, jr FROM verified
    ),
    vrank AS (
      SELECT node, nbr, n_common, jr,
             ROW_NUMBER() OVER (PARTITION BY node
                                ORDER BY jr DESC, nbr ASC) AS rn
      FROM vund
    ),
    capped AS (
      SELECT DISTINCT LEAST(node, nbr) AS d1, GREATEST(node, nbr) AS d2,
             n_common, jr
      FROM vrank WHERE rn <= {MAX_NEARDUP_DEGREE}
    )"""


# --------------------------------------------------------------------------
# Near-dup clustering: connected components over the exact 0.6 pair
# graph, computed through the c06 exact-dedup-first funnel. The step
# between "pairs found" and "corpus deduped": transitive closure of
# near-dup edges, one canonical doc (min doc_id) per component.
#
# Funnel (round 10 — VERDICT r09 item 2): identical (lang, source,
# text) rows collapse to one representative BEFORE the quadratic pair
# enumeration, each exact group contributing a linear STAR (rep ->
# member; Jaccard(text, text) = 1 >= 0.6 whenever the text has a
# shingle, i.e. length >= 3), and s02's exact blocked enumeration +
# the union top-m degree cap run over DISTINCT texts only. Jaccard
# depends only on the text, so any member pair across two groups is a
# 0.6-edge iff the reps are — components are provably identical to
# the uncapped full graph's wherever the cap is a no-op, while the
# enumeration cost is flat in duplicate mass (measured: the r09 A/B
# rejected the LSH pair source — at J ~= 0.6 the >= 2-of-4-band
# funnel misses 103 of 112 exact edges at sf0.01 and 9,778 of 10,778
# at sf0.1, and its lang-only blocking adds cross-source edges s02's
# (lang, source) blocks exclude; this funnel keeps EXACT semantics
# instead). The cap (shared degree_cap_sql(), r07: s14 was the last
# iterative consumer on an uncapped list — 460 s at 30x duplicate
# mass) now acts on the rep graph, so pathological duplicate mass can
# neither inflate the enumeration nor shatter an exact-duplicate
# group (stars are never capped; their mass is linear by
# construction).
#
# Spark side is iterative min-label propagation with pointer jumping
# (O(log n) rounds; see operators/graph.py); the oracle is a
# recursive-CTE reachability closure over star + capped rep edges.
# --------------------------------------------------------------------------
@register(
    "s14_neardup_components",
    oracle=f"""
    WITH RECURSIVE gm AS (
      SELECT doc_id, lang, source, md5(text) AS th,
             LENGTH(text) AS tl
      FROM documents
    ),
    grps AS (
      SELECT lang, source, th, MIN(doc_id) AS rep
      FROM gm GROUP BY 1, 2, 3
    ),
    star AS (
      SELECT r.rep AS d1, g.doc_id AS d2
      FROM gm g JOIN grps r
        ON g.lang = r.lang AND g.source = r.source AND g.th = r.th
      WHERE g.doc_id <> r.rep AND g.tl >= 3
    ),
    sh AS (
      SELECT DISTINCT doc_id, lang, source,
             substr(text, CAST(pos AS INT), 3) AS shingle
      FROM (SELECT d.doc_id, d.lang, d.source, d.text
            FROM documents d
            JOIN grps r ON d.doc_id = r.rep) AS dd,
           UNNEST(generate_series(1, greatest(length(dd.text) - 2, 0)))
             AS t(pos)
    ),
    {sz_sql()},
    {blocked_common_sql()},
    {verified_sql(0.6, rounded=True)},
    {degree_cap_sql()},
    und AS (SELECT d1 AS u, d2 AS v FROM capped
            UNION ALL SELECT d2, d1 FROM capped
            UNION ALL SELECT d1, d2 FROM star
            UNION ALL SELECT d2, d1 FROM star),
    reach(u, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.u, r.lbl FROM und e JOIN reach r ON r.u = e.v
    ),
    comp AS (SELECT u AS doc_id, MIN(lbl) AS component_id
             FROM reach GROUP BY u)
    SELECT doc_id, component_id,
           CAST(COUNT(*) OVER (PARTITION BY component_id) AS BIGINT)
             AS n_members,
           CAST(doc_id = component_id AS INT) AS is_canonical
    FROM comp
    """,
    doc="Near-dup clustering through the exact-dedup-first funnel "
        "(c06's shape): identical (lang, source, text) rows collapse "
        "to a representative and contribute a linear star; s02's "
        "exact 3-gram Jaccard >= 0.6 enumeration and the shared union "
        "top-m degree cap run over DISTINCT texts only, so duplicate "
        "mass never reaches the quadratic stage. Connected components "
        "of star + capped rep edges (transitive closure), canonical "
        "doc = min(doc_id) per component, singletons included. "
        "Iterative min-label propagation + pointer jumping, label "
        "state one row per node, edges checkpointed once "
        "(operators/graph.py); the cap bounds every iteration's "
        "|E|-join to m * |V_distinct|.",
)
def s14_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from mousedatapipeline_spark.operators.graph import connected_components
    # Plain load, not load_spread: the window below hash-shuffles the
    # corpus anyway, so a round-robin pre-shuffle would be pure
    # overhead — the per-row work BEFORE the window (md5, length) is
    # trivial, and the expensive shingle projection runs after the
    # explicit survivor re-spread further down.
    d = load(spark, sf_dir, "documents")
    # Exact stage: one (lang, source, content-hash) window pins each
    # row's group representative without a second shuffle (min over
    # the group); md5 parity with the oracle is s01's green hash.
    w = Window.partitionBy("lang", "source", "th")
    mem = (d.select("doc_id", "lang", "source", "text",
                    T.content_hash(F.col("text")).alias("th"))
           .withColumn("rep", F.min("doc_id").over(w))
           .localCheckpoint(eager=False))  # lazy (r11, VERDICT r10 #1):
    # the eager edge-list checkpoint inside connected_components
    # materializes star ∪ capped in ONE job, whose shared lineage
    # computes this window once and leaves it cached for both branches
    # (same rationale as c06's lazy mem) — the eager form paid a
    # separate full-corpus materialization job up front for nothing.
    star = (mem.filter((F.col("doc_id") != F.col("rep"))
                       & (F.length("text") >= 3))
            .select(F.col("rep").alias("d1"),
                    F.col("doc_id").alias("d2")))
    # Re-spread the survivors before the per-row-EXPENSIVE shingle
    # projection (the load_spread rationale): AQE coalesces the
    # window's tiny-by-bytes shuffle output to ~1 partition, which
    # would single-thread the enumeration's scan stage (measured
    # 9.5 -> 2.6 s at sf0.1). One small shuffle of the distinct
    # texts, strictly cheaper than the shingle work it parallelizes.
    reps = (mem.filter(F.col("doc_id") == F.col("rep"))
            .select("doc_id", "lang", "source", "text")
            .repartition(spark.sparkContext.defaultParallelism))
    # The ROUNDED jaccard is the cap's ranking key in BOTH engines
    # (stable_round here == stable_round_sql in the oracle's verified
    # CTE — s02's own green hash proves the equality), so the top-m
    # pick order is identical; ties break on neighbor id.
    raw = exact_jaccard_edges(
        reps, redistribute=spark.sparkContext.defaultParallelism
    ).select("d1", "d2", "n_common",
             stable_round(F.col("jaccard_raw")).alias("jaccard_raw"))
    capped = S.degree_cap_edges(raw, MAX_NEARDUP_DEGREE) \
        .select("d1", "d2")
    edges = capped.unionByName(star)
    cc = connected_components(d.select("doc_id"), edges,
                              "doc_id", "d1", "d2")
    sizes = cc.groupBy("component_id") \
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
    return (cc.join(sizes, "component_id")
            .select("doc_id", "component_id", "n_members",
                    (F.col("doc_id") == F.col("component_id"))
                    .cast("int").alias("is_canonical")))


# --------------------------------------------------------------------------
# s19: the CANONICAL two-stage near-dup pipeline — LSH candidates,
# then exact-Jaccard verification, in one plan. Stage 1 is s03's
# banding (pair volume bounded by bucket collisions, never all-pairs);
# stage 2 joins each surviving pair back to its two shingle sets and
# computes the exact overlap JVM-side. What survives is exact — the
# LSH recall loss is visible as pairs the all-pairs s02 finds but s19
# misses, which is the measured trade of the scale path.
# --------------------------------------------------------------------------
VERIFY_JACCARD = 0.5


@register(
    "s19_lsh_verified_neardup",
    oracle=f"""
    WITH sh AS ({_SQL_SHINGLES}),
    h AS (SELECT doc_id, lang, {S.SHINGLE_HASH_SQL} AS h FROM sh),
    mh AS ({_minhash_wide_sql()}),
    bands AS ({_bands_wide_sql()}),
    {cand_sql()},
    {sz_sql()},
    {cand_common_sql()},
    {verified_sql(VERIFY_JACCARD)},
    {degree_cap_sql()}
    SELECT d1, d2, n_common, {stable_round_sql('jr')} AS jaccard
    FROM capped
    """,
    doc="Two-stage near-dup: LSH band candidates (s03) verified with "
        "exact shingle-set Jaccard — candidates join back to their two "
        "shingle sets, overlap is a JVM array_intersect, survivors are "
        "exact at threshold 0.5. The scale pattern: quadratic work "
        "only inside hash buckets, exactness restored by the verify "
        "join, and the surviving edge list bounded to m*|V| by the "
        "union top-m degree cap (MAX_NEARDUP_DEGREE) so iterative "
        "consumers never see quadratic duplicate mass.",
)
def s19_lsh_verified_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # load_spread: documents.parquet is one file -> one input partition
    # (see s03's comment).
    return lsh_verified_edges(load_spread(spark, sf_dir, "documents"))


def lsh_verified_edges(d: DataFrame) -> DataFrame:
    """s19's two-stage near-dup machinery over an arbitrary documents
    frame (doc_id, lang, text[, ...]) — (d1, d2, n_common, jaccard)
    verified edges, degree-capped to MAX_NEARDUP_DEGREE per node
    (union top-m — edge mass <= m*|V| by construction).  Factored out
    so composed pipelines (c06) can run the identical stage over a
    FILTERED corpus (e.g. exact-dedup survivors) without re-stating
    the plan.

    Two regimes, picked from observed size the way
    ``connected_components`` picks its own. The hashed shingle sets
    are materialized once (an eager checkpoint, the only corpus pass
    either regime makes); then
    - the DRIVER regime runs when two gates pass: the checkpoint's
      cached size fits ``spark.sql.autoBroadcastJoinThreshold``
      (``tables.fits_broadcast``), and so does the candidate volume,
      sum of k(k-1)/2 over the (lang, band, band_sig) buckets at 16
      bytes per pair (a hot bucket fails this one). The sets come back
      in one Arrow collect, and minhash, banding, the >=
      MIN_SHARED_BANDS filter, exact Jaccard and the degree cap run in
      numpy (``operators.similarity.driver_verified_edges``). The
      edges return as an Arrow-built LocalRelation: no closing
      checkpoint (c06 fell from 21 jobs to 13 when it landed);
    - otherwise the distributed plan below runs.
    Every step after the shingle hashing is exact integer arithmetic
    plus one IEEE division, so both regimes return the same rows
    (property-tested)."""
    # ONE corpus pass computes the hashed shingle sets that BOTH stages
    # consume: the minhash signatures derive from `hashed`, and the
    # verify stage reads the same checkpoint (s03 run standalone would
    # recompute the sets for its own pipeline — inlining its body here
    # halves the corpus-scan work of the combined query).
    from mousedatapipeline_spark.tables import fits_threshold, pin_keyed

    hashed = S.shingle_hash_sets(d).localCheckpoint(eager=True)
    if fits_broadcast(hashed):
        tbl = hashed.toArrow()
        rows, sizes = S.band_buckets_np(tbl)
        if fits_threshold(hashed.sparkSession, 16 * S.pair_volume(sizes)):
            return _driver_lsh_edges(hashed, tbl, rows, sizes)
    hashed = hashed.select("*", F.size("hs").cast("bigint").alias("n"))
    sig = hashed.select("doc_id", "lang", *S.minhash_cols(F.col("hs")))
    bands = pin_keyed(
        S.band_signatures_wide(sig, ["doc_id", "lang"]),
        ["lang", "band", "band_sig"])  # self-joined below: the 16
    # array_min projections must not run once per join side — and the
    # two sides race CONCURRENTLY inside the one materializing job,
    # where a lazy checkpoint cannot serve the second side (r08
    # verdict measured the lazy form at 3.78 vs 3.14 s eager; the r09
    # interleaved A/B read a tie at 2.90/2.92 s — eager kept because
    # it is the only form that BOUNDS the band pass to one run).
    # pin_keyed (r10): past broadcast scale the layout is re-pinned by
    # the self-join key, so BOTH join sides read the one pinned
    # exchange with no re-shuffle and no per-side sort; locally it is
    # the same eager checkpoint as before (identity under the
    # broadcast-threshold gate). Hot-bucket skew of the pinned layout
    # is bounded in-plan by the banding guards.
    cands = S.lsh_candidates(bands).localCheckpoint(eager=True)  # feeds
    # the verify join AND the pruning id set, whose broadcast hint this
    # materialized size gates (broadcast build + probe run in one job).
    # Verify on HASHED shingle arrays: the byte-positional base-256
    # hash is injective on 3-grams (single-byte codepoints occupy
    # disjoint byte lanes), so intersect counts equal the string-set
    # counts while the joins shuffle int arrays, not 3-char strings.
    scored = S.hashed_jaccard(cands, hashed)
    # No checkpoint on `verified`: degree_cap_edges consumes it exactly
    # once (single two-struct explode since r07) — the former lazy
    # checkpoint here was dead weight (r08 verdict #3).
    verified = scored.filter(F.col("jaccard_raw") >= VERIFY_JACCARD)
    # Edge-mass guard: symmetric union top-m degree cap (rationale at
    # MAX_NEARDUP_DEGREE above; SQL twin = degree_cap_sql()). Bounds
    # the edge list to m*|V| so the iterative consumers stay linear in
    # the corpus even under pathological duplicate mass.
    capped = S.degree_cap_edges(verified, MAX_NEARDUP_DEGREE)
    # Eager-checkpoint the RESULT: this helper's callers fan the edge
    # list into multiple branches (s33 joins it once per source side;
    # CC/PageRank consumers iterate over it), and without a pinned
    # result each branch re-runs the verify join — the expensive
    # stage — once per consumer. Measured at sfx10 when round 9 first
    # dropped the interior `verified` checkpoint without pinning the
    # result: s33 26.3 -> 205 s, s19 33 -> 60 s; pinning the capped
    # output restores one-run semantics for every downstream shape
    # (the scalar edge list is small — the arrays never leave the
    # verify join).
    return (capped.select("d1", "d2", "n_common",
                          stable_round(F.col("jaccard_raw"))
                          .alias("jaccard"))
            .localCheckpoint(eager=True))


def _driver_lsh_edges(hashed: DataFrame, tbl, rows, sizes) -> DataFrame:
    """The driver regime of :func:`lsh_verified_edges` over the
    collected ``hashed`` table ``tbl`` and its LSH buckets: the edges
    as one Arrow-built frame typed like the distributed plan's
    output."""
    import pyarrow as pa
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    edges = S.driver_verified_edges(tbl, rows, sizes, MIN_SHARED_BANDS,
                                    VERIFY_JACCARD, MAX_NEARDUP_DEGREE)
    jaccard = stable_round_array(edges.column("jaccard_raw").to_numpy())
    id_type = hashed.schema["doc_id"].dataType
    return hashed.sparkSession.createDataFrame(
        pa.table({"d1": edges.column("d1"), "d2": edges.column("d2"),
                  "n_common": edges.column("n_common"),
                  "jaccard": pa.array(jaccard, type=pa.float64())}),
        StructType([StructField("d1", id_type),
                    StructField("d2", id_type),
                    StructField("n_common", LongType(), False),
                    StructField("jaccard", DoubleType())]))


# --------------------------------------------------------------------------
# Diversity / hard-example mining: per label, the K vectors FARTHEST from
# their label centroid. The complement of dedup — curation pipelines keep
# outliers for coverage (active-learning "hard examples") or drop them as
# noise; either way the primitive is the same ranked distance query.
# --------------------------------------------------------------------------
_OUTLIER_K = 5


@register(
    "s20_centroid_outliers",
    oracle=f"""
    WITH dims AS ({_SQL_DIMS}),
    lab AS (SELECT vec_id, label FROM embeddings),
    cent AS (
      SELECT la.label, d.dim,
             {dsum_sql("d.v")}
               / CAST(COUNT(*) AS DOUBLE) AS cv
      FROM dims d JOIN lab la ON d.vec_id = la.vec_id
      GROUP BY 1, 2
    ),
    cent_arr AS (
      SELECT label, list(cv ORDER BY dim) AS c FROM cent GROUP BY label
    ),
    -- distance as a LEFT-FOLD over the zipped arrays, seeded 0.0 —
    -- the SAME evaluation order and IEEE ops as the Spark side's
    -- zip_with/aggregate fold, so d2 is bit-identical (a per-term
    -- DECIMAL-quantized SUM here would differ by up to dim*5e-11 and
    -- could straddle a stable_round boundary)
    dist AS (
      SELECT e.label, e.vec_id,
             list_reduce(list_prepend(0.0,
               list_transform(range(1, len(e.embedding) + 1), i ->
                 (CAST(e.embedding[i] AS DOUBLE) - ca.c[i])
                 * (CAST(e.embedding[i] AS DOUBLE) - ca.c[i]))),
               (acc, x) -> acc + x) AS d2
      FROM embeddings e JOIN cent_arr ca ON ca.label = e.label
    ),
    ranked AS (
      SELECT label, vec_id, d2,
             ROW_NUMBER() OVER (PARTITION BY label
                                ORDER BY {stable_round_sql('d2')} DESC,
                                         vec_id ASC) AS rn
      FROM dist
    )
    SELECT label, vec_id, CAST(rn AS INT) AS rank,
           {stable_round_sql('d2')} AS dist2
    FROM ranked WHERE rn <= {_OUTLIER_K}
    """,
    doc="Diversity mining: top-5 farthest-from-centroid vectors per "
        "label (hard-example / outlier selection). Spark side is array-"
        "native: decimal-exact centroids collected to per-label arrays "
        "(tiny: n_labels x dim), broadcast to the vector scan, distance "
        "as one JVM zip_with fold per row (no (vec, dim) explosion on "
        "the hot path), then one top-k window per label ordered on the "
        "stable-rounded distance (rank-identical across engines).",
)
def s20_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load(spark, sf_dir, "embeddings")
    vecs = e.select(
        "vec_id", "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    # Exact decimal centroid per (label, dim) — the only explode, over
    # the small side of the computation; collected into per-label
    # arrays and broadcast.
    dims = vecs.select("label", F.posexplode("v").alias("pos", "val"))
    cent = dims.groupBy("label", (F.col("pos") + 1).alias("dim")).agg(
        (dsum("val") / F.count(F.lit(1)).cast("double")).alias("cv"))
    cent_arr = cent.groupBy("label").agg(
        F.transform(F.array_sort(F.collect_list(F.struct("dim", "cv"))),
                    lambda s: s["cv"]).alias("c"))
    d2 = F.aggregate(
        F.zip_with("v", "c", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x)
    scored = (vecs.join(F.broadcast(cent_arr), "label")
              .select("label", "vec_id", d2.alias("d2")))
    w = Window.partitionBy("label").orderBy(
        stable_round(F.col("d2")).desc(), F.col("vec_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= _OUTLIER_K)
            .select("label", "vec_id", "rank",
                    stable_round(F.col("d2")).alias("dist2")))


# --------------------------------------------------------------------------
# s21: SEMANTIC dedup end-to-end (SemDeDup shape): embedding-cosine
# near-dup pairs (s09's blocked exact stage) -> connected components ->
# one canonical vector kept per semantic cluster. The composition is
# the production dedup pass: pairs are evidence, components are the
# dedup decision, and the kept-set is what ships downstream.
# --------------------------------------------------------------------------
@register(
    "s21_semantic_dedup",
    oracle=f"""
    WITH RECURSIVE dims AS ({_SQL_DIMS}),
    norms AS ({_SQL_NORMS}),
    lab AS (SELECT vec_id, label FROM embeddings),
    dots AS (
      SELECT a.vec_id AS d1, b.vec_id AS d2, la.label,
             {dsum_sql("a.v * b.v")} AS dot
      FROM dims a
      JOIN lab la ON a.vec_id = la.vec_id
      JOIN lab lb ON la.label = lb.label
      JOIN dims b ON b.vec_id = lb.vec_id AND a.dim = b.dim
      WHERE a.vec_id < b.vec_id
      GROUP BY 1, 2, 3
    ),
    edges AS (
      SELECT d1, d2
      FROM dots JOIN norms x ON d1 = x.vec_id
                JOIN norms y ON d2 = y.vec_id
      WHERE CASE WHEN x.norm > 0 AND y.norm > 0
                 THEN dot / (x.norm * y.norm) ELSE 0.0 END
            >= {_NEARDUP_TAU}
    ),
    und AS (SELECT d1 AS u, d2 AS v FROM edges
            UNION ALL SELECT d2, d1 FROM edges),
    reach(u, lbl) AS (
      SELECT vec_id, vec_id FROM embeddings
      UNION
      SELECT e.u, r.lbl FROM und e JOIN reach r ON r.u = e.v
    ),
    comp AS (SELECT u AS vec_id, MIN(lbl) AS component_id
             FROM reach GROUP BY u)
    SELECT vec_id, component_id,
           CAST(COUNT(*) OVER (PARTITION BY component_id) AS BIGINT)
             AS cluster_size,
           CAST(vec_id = component_id AS INT) AS is_kept
    FROM comp
    """,
    doc="Semantic dedup (SemDeDup shape): cosine >= tau pairs within "
        "label blocks -> distributed connected components -> keep "
        "min(vec_id) per semantic cluster. Pair stage is s09's blocked "
        "exact computation; the cluster stage is the O(log n)-round "
        "pointer-jumping loop (operators/graph.py) whose state is one "
        "row per vector with at least one duplicate.",
)
def s21_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mousedatapipeline_spark.operators.graph import connected_components
    e = load(spark, sf_dir, "embeddings")
    edges = s09_embedding_neardup(spark, sf_dir).select("d1", "d2")
    cc = connected_components(e.select("vec_id"), edges,
                              "vec_id", "d1", "d2")
    sizes = cc.groupBy("component_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size"))
    return (cc.join(sizes, "component_id")
            .select("vec_id", "component_id", "cluster_size",
                    (F.col("vec_id") == F.col("component_id"))
                    .cast("int").alias("is_kept")))


# --------------------------------------------------------------------------
# s22: INCREMENTAL near-dup — probe an arriving batch against the
# existing corpus index, the operational dedup shape: the corpus's band
# signatures are a precomputed index (at 100 TB a bucketed table
# maintained by the ingest pipeline); only the new batch computes fresh
# signatures, and only batch-vs-corpus candidates are generated — no
# batch-vs-batch or corpus-vs-corpus pairs, so per-arrival cost is
# O(|batch|) signature work + index probes, independent of corpus size.
# --------------------------------------------------------------------------
@register(
    "s22_incremental_neardup",
    oracle=f"""
    WITH sh AS ({_SQL_SHINGLES}),
    h AS (SELECT doc_id, lang, {S.SHINGLE_HASH_SQL} AS h FROM sh),
    mh AS ({_minhash_wide_sql()}),
    bands AS ({_bands_wide_sql()})
    SELECT b.doc_id AS new_doc, c.doc_id AS corpus_doc,
           CAST(COUNT(*) AS BIGINT) AS shared_bands
    FROM bands b JOIN bands c
      ON b.band = c.band AND b.band_sig = c.band_sig
     AND b.lang = c.lang
    WHERE b.doc_id % 4 = 0 AND c.doc_id % 4 <> 0
    GROUP BY 1, 2
    HAVING COUNT(*) >= {MIN_SHARED_BANDS}
    """,
    doc="Incremental near-dup: new-batch docs (doc_id % 4 = 0) probe "
        "the existing corpus's LSH band index — asymmetric join, no "
        "batch-vs-batch or corpus-vs-corpus pair generation, so "
        "per-arrival cost scales with the batch, not the corpus. "
        "Same band-bucket machinery as s03.",
)
def s22_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_spread(spark, sf_dir, "documents")
    hashed = S.hashed_shingle_docs(d)
    sig = hashed.select("doc_id", "lang", *S.minhash_cols(F.col("hs")))
    bands = (S.band_signatures_wide(sig, ["doc_id", "lang"])
             .localCheckpoint(eager=True))  # new + corpus sides split
    # this table inside ONE join job (r09 A/B 1.42 -> 1.29 s eager).
    # In production the corpus side is the PERSISTED index; here both
    # derive from one checkpoint, split by the arrival predicate.
    new = (bands.filter(F.col("doc_id") % 4 == 0)
           .select(F.col("doc_id").alias("new_doc"), "lang", "band",
                   "band_sig"))
    corpus = (bands.filter(F.col("doc_id") % 4 != 0)
              .select(F.col("doc_id").alias("corpus_doc"), "lang", "band",
                      "band_sig"))
    return (new.join(corpus, ["lang", "band", "band_sig"])
            .groupBy("new_doc", "corpus_doc")
            .agg(F.count(F.lit(1)).cast("bigint").alias("shared_bands"))
            .filter(F.col("shared_bands") >= MIN_SHARED_BANDS))


# --------------------------------------------------------------------------
# s23: int8 scalar quantization of the embedding column — the storage
# path for vectors at 100 TB (4x smaller than float32, 8x smaller than
# the double working form). Per-vector absmax scale, explicit
# floor(x + 0.5) rounding (engine-defined ROUND never touches the
# data), and the reconstruction error measured in the same query.
# --------------------------------------------------------------------------
@register(
    "s23_embedding_quantization",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             list_reduce(list_prepend(0.0,
               list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
               (a, b) -> CASE WHEN b > a THEN b ELSE a END) / 127.0
               AS scale,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    enc AS (
      SELECT vec_id, scale,
             CASE WHEN scale > 0 THEN
               list_transform(v, x -> CAST(FLOOR(x / scale + 0.5)
                                           AS BIGINT))
             ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS qv,
             v
      FROM q
    )
    SELECT vec_id,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), qv),
                            (a, b) -> a + b) AS BIGINT) AS q_sum,
           {sc} AS scale,
           {mse} AS mse
    FROM enc
    """.format(
        sc=stable_round_sql("scale"),
        mse=stable_round_sql(
            "list_reduce(list_prepend(0.0, list_transform("
            "range(1, len(v) + 1), i -> (v[i] - qv[i] * scale)"
            " * (v[i] - qv[i] * scale))), (a, b) -> a + b)"
            " / CAST(len(v) AS DOUBLE)", 9)),
    doc="Int8 scalar quantization (absmax / 127, floor(x+0.5) encode): "
        "per-vector scale, integer checksum of the codes, and the "
        "reconstruction MSE — all row-local array folds with the same "
        "left-fold order in both engines (the s20 fix's parity "
        "pattern), so even the float MSE is bit-identical. At scale "
        "the int8 codes column replaces the float array in storage and "
        "ANN probes dequantize on the fly.",
)
def s23_embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    base = e.select("vec_id", v.alias("v"))
    absmax = F.aggregate(
        "v", F.lit(0.0),
        lambda a, b: F.when(F.abs(b) > a, F.abs(b)).otherwise(a))
    scaled = base.select("vec_id", "v", (absmax / F.lit(127.0)).alias("scale"))
    qv = F.when(
        F.col("scale") > 0,
        F.transform("v", lambda x: F.floor(x / F.col("scale") + F.lit(0.5))
                    .cast("bigint"))
    ).otherwise(F.transform("v", lambda x: F.lit(0).cast("bigint")))
    enc = scaled.select("vec_id", "v", "scale", qv.alias("qv"))
    q_sum = F.aggregate("qv", F.lit(0).cast("bigint"), lambda a, b: a + b)
    sq_err = F.aggregate(
        F.zip_with("v", "qv", lambda x, q: (x - q * F.col("scale"))
                   * (x - q * F.col("scale"))),
        F.lit(0.0), lambda a, b: a + b)
    # Rounding happens in a SEPARATE select: aliasing the rounded value
    # back to the name "scale" in the same projection would make the
    # sq_err lambda's `scale` resolve against the LATERAL alias (the
    # rounded column), not enc's raw column — Spark 4 lateral column
    # alias resolution, observed shifting mse in the 3rd digit.
    raw = enc.select(
        "vec_id", q_sum.cast("bigint").alias("q_sum"), "scale",
        (sq_err / F.size("v").cast("double")).alias("mse_raw"))
    return raw.select(
        "vec_id", "q_sum",
        stable_round(F.col("scale")).alias("scale"),
        stable_round(F.col("mse_raw"), 9).alias("mse"))


# --------------------------------------------------------------------------
# s24: containment near-dup — the asymmetric companion to s02. Jaccard
# misses doc-inside-doc duplication (a 50-shingle doc embedded in a
# 500-shingle doc scores J ~= 0.1 but containment 1.0); dataset-curation
# pipelines use containment C = |A∩B| / min(|A|,|B|) to catch quote
# farms, boilerplate-wrapped reposts, and prompt-template expansions.
# Same blocked (lang, source) pair space and per-row shingle-set
# expressions as s02 — one small shuffle, pair count bounded by the
# largest block.
# --------------------------------------------------------------------------
@register(
    "s24_containment_neardup",
    oracle=f"""
    WITH sh AS ({_SQL_SHINGLES}),
    {sz_sql()},
    {blocked_common_sql()}
    SELECT d1, d2, n_common,
           {stable_round_sql(
               'CAST(n_common AS DOUBLE) / CAST(LEAST(x.n, y.n) AS DOUBLE)')}
             AS containment
    FROM common JOIN sz x ON d1 = x.doc_id JOIN sz y ON d2 = y.doc_id
    WHERE CAST(n_common AS DOUBLE) / CAST(LEAST(x.n, y.n) AS DOUBLE) >= 0.85
    """,
    doc="Asymmetric containment near-dup: 3-gram shingle containment "
        "|A∩B|/min(|A|,|B|) >= 0.85 within (lang, source) blocks — "
        "catches doc-inside-doc duplication that symmetric Jaccard "
        "(s02) underscores. Same zero-shuffle shingle-set expressions "
        "and blocked pair generation as s02.",
)
def s24_containment_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Sub-3-char docs have an empty 3-gram shingle set: the oracle's
    # shingle self-join can never emit them, and pairing one divides
    # by min(|A|,|B|) = 0. blocked_overlaps drops them with a
    # scan-stage length >= 3 filter and runs the shingle work once.
    pairs = S.blocked_overlaps(
        load_spread(spark, sf_dir, "documents"),
        redistribute=spark.sparkContext.defaultParallelism)
    scored = pairs.withColumn(
        "containment_raw",
        F.col("n_common").cast("double")
        / F.least("n_1", "n_2").cast("double"))
    return (
        scored.filter(F.col("containment_raw") >= 0.85)
        .select("d1", "d2", "n_common",
                stable_round(F.col("containment_raw")).alias("containment"))
    )


# --------------------------------------------------------------------------
# s25: ANN quality evaluation — recall@3 of the LSH path (s06) against
# the exact baseline (s05). Approximations in a curation pipeline need
# a measured recall number, not a vibe: this query IS that harness, and
# it reuses the two registered queries (and their oracles) verbatim so
# the evaluated plans are exactly the production ones.
# --------------------------------------------------------------------------
@register(
    "s25_ann_recall",
    oracle=f"""
    WITH exact AS (
      SELECT qid, cid FROM ({_REGISTRY['s05_knn_cosine'].oracle}) x WHERE rank <= 3
    ),
    ann AS (
      SELECT qid, cid FROM ({_REGISTRY['s06_ann_lsh'].oracle}) y
    ),
    hit AS (
      SELECT e.qid, CAST(COUNT(a.cid) AS BIGINT) AS n_hit,
             CAST(COUNT(*) AS BIGINT) AS n_exact
      FROM exact e LEFT JOIN ann a ON e.qid = a.qid AND e.cid = a.cid
      GROUP BY e.qid
    )
    SELECT qid, n_exact, n_hit,
           {stable_round_sql('CAST(n_hit AS DOUBLE) / CAST(n_exact AS DOUBLE)')}
             AS recall
    FROM hit
    """,
    doc="ANN recall harness: per query vector, recall@3 of the s06 "
        "LSH-bucketed path against the s05 exact baseline — the two "
        "registered queries (Spark plans AND oracles) are composed "
        "verbatim, so the number measures the production plans, not a "
        "reimplementation. The join/aggregate runs on the top-k rows "
        "(k x n_queries), never the corpus.",
)
def s25_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = (s05_knn_cosine(spark, sf_dir)
             .filter(F.col("rank") <= 3).select("qid", "cid"))
    ann = s06_ann_lsh(spark, sf_dir).select("qid", "cid",
                                            F.lit(1).alias("__hit"))
    j = exact.join(ann, ["qid", "cid"], "left")
    return (j.groupBy("qid")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"),
                 F.count("__hit").cast("bigint").alias("n_hit"))
            .select("qid", "n_exact", "n_hit",
                    stable_round(F.col("n_hit").cast("double")
                                 / F.col("n_exact").cast("double"))
                    .alias("recall")))


# --------------------------------------------------------------------------
# s26: MinHash estimator accuracy — the s25 idea applied to the dedup
# sketch. E[matching lanes / N_PERM] = exact Jaccard; this measures the
# realized error on the live candidate pairs, so threshold choices
# (MIN_SHARED_BANDS, VERIFY_JACCARD) rest on a number, not the theory
# alone. Candidates and exact Jaccard reuse the s19 machinery verbatim.
# --------------------------------------------------------------------------
def _lane_match_sql() -> str:
    return " + ".join(
        f"CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END"
        for i in range(S.N_PERM))


@register(
    "s26_minhash_accuracy",
    oracle=f"""
    WITH sh AS ({_SQL_SHINGLES}),
    h AS (SELECT doc_id, lang, {S.SHINGLE_HASH_SQL} AS h FROM sh),
    mh AS ({_minhash_wide_sql()}),
    bands AS ({_bands_wide_sql()}),
    {cand_sql()},
    lanes AS (
      SELECT c.d1, c.d2,
             CAST({_lane_match_sql()} AS BIGINT) AS n_lanes
      FROM cand c JOIN mh a ON a.doc_id = c.d1
                  JOIN mh b ON b.doc_id = c.d2
    ),
    {sz_sql()},
    {cand_common_sql()}
    SELECT l.d1, l.d2, l.n_lanes,
           {stable_round_sql(f'CAST(l.n_lanes AS DOUBLE) / {S.N_PERM}.0')}
             AS est_jaccard,
           {stable_round_sql(
               'CAST(m.n_common AS DOUBLE) '
               '/ CAST(s1.n + s2.n - m.n_common AS DOUBLE)')}
             AS exact_jaccard,
           {stable_round_sql(
               f'ABS(CAST(l.n_lanes AS DOUBLE) / {S.N_PERM}.0 '
               '- CAST(m.n_common AS DOUBLE) '
               '/ CAST(s1.n + s2.n - m.n_common AS DOUBLE))')}
             AS abs_err
    FROM lanes l
    JOIN common m ON m.d1 = l.d1 AND m.d2 = l.d2
    JOIN sz s1 ON s1.doc_id = l.d1
    JOIN sz s2 ON s2.doc_id = l.d2
    """,
    doc="MinHash estimator accuracy on the live LSH candidate pairs: "
        "matching-lane fraction (the sketch's Jaccard estimate) next "
        "to the exact shingle-set Jaccard and the absolute error — "
        "the measured basis for the banding thresholds. One corpus "
        "pass feeds signatures, candidates, AND the verify sets "
        "(the s19 shape); the lane compare joins k-lane signature "
        "rows, never shingle sets.",
)
def s26_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    hashed = S.hashed_shingle_docs(load_spread(spark, sf_dir, "documents"),
                                   with_n=True)
    sig = (hashed.select("doc_id", "lang", *S.minhash_cols(F.col("hs")))
           .localCheckpoint(eager=False))  # joined twice below — the
    # s26 chain kept lazy as a family: band/cand shuffles serialize
    # the consumers in practice (r09 A/B: eager cost 2.31 -> 2.60 s)
    bands = (S.band_signatures_wide(sig, ["doc_id", "lang"])
             .localCheckpoint(eager=False))
    cands = S.lsh_candidates(bands).localCheckpoint(eager=False)
    lanes = S.signature_pairs(cands, sig).select(
        "d1", "d2", S.matching_lanes().cast("bigint").alias("n_lanes"))
    # cands is lazy, so its size is unknown here and hashed_jaccard
    # leaves the id-set join to AQE's runtime stats.
    scored = S.hashed_jaccard(cands, hashed, lanes)
    est = F.col("n_lanes").cast("double") / F.lit(float(S.N_PERM))
    exact = F.col("jaccard_raw")
    return scored.select(
        "d1", "d2", "n_lanes",
        stable_round(est).alias("est_jaccard"),
        stable_round(exact).alias("exact_jaccard"),
        stable_round(F.abs(est - exact)).alias("abs_err"))

# --------------------------------------------------------------------------
# s27: triangle counting on the near-dup graph — density diagnostics
# for dedup clusters (a clique-ish component is one duplicated source;
# a sparse chain is transitive drift). Edges are re-oriented by the
# (degree, id) total order (operators/graph.orient_by_degree) before
# the wedge join: the oriented out-degree is then O(sqrt(m)), which
# bounds the wedge fan-out — the Ortmann/Brandes bound every scalable
# triangle counter relies on. The triangle SET is orientation-
# invariant, so the oracle (and the per-vertex counts) are unchanged.
# --------------------------------------------------------------------------
@register(
    "s27_triangle_count",
    oracle=f"""
    WITH sh AS ({_SQL_SHINGLES}),
    {sz_sql()},
    {blocked_common_sql()},
    edges AS (
      SELECT d1, d2 FROM common JOIN sz x ON d1 = x.doc_id
                                JOIN sz y ON d2 = y.doc_id
      WHERE CAST(n_common AS DOUBLE)
            / CAST(x.n + y.n - n_common AS DOUBLE) >= 0.6
    ),
    tri AS (
      SELECT e1.d1 AS a, e1.d2 AS b, e2.d2 AS c
      FROM edges e1
      JOIN edges e2 ON e2.d1 = e1.d2
      JOIN edges e3 ON e3.d1 = e1.d1 AND e3.d2 = e2.d2
    ),
    pertri AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS n_triangles
      FROM (SELECT a AS v FROM tri UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri)
      GROUP BY v
    ),
    deg AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS degree
      FROM (SELECT d1 AS v FROM edges UNION ALL SELECT d2 FROM edges)
      GROUP BY v
    )
    SELECT deg.v AS doc_id, deg.degree,
           COALESCE(p.n_triangles, 0) AS n_triangles,
           {stable_round_sql(
               'CASE WHEN deg.degree >= 2 THEN '
               'CAST(2 * COALESCE(p.n_triangles, 0) AS DOUBLE) '
               '/ CAST(deg.degree * (deg.degree - 1) AS DOUBLE) '
               'ELSE 0.0 END')} AS clustering_coef
    FROM deg LEFT JOIN pertri p ON p.v = deg.v
    """,
    doc="Triangle counting + local clustering coefficient on the "
        "near-dup edge set (s02's Jaccard >= 0.6 pairs): per doc, its "
        "degree, triangle membership count, and 2T/d(d-1) — clique-"
        "like duplication clusters score ~1, transitive-drift chains "
        "~0. Edges are re-oriented by (degree, id) — oriented "
        "out-degree O(sqrt(m)), the scalable wedge bound — the wedge "
        "join is edge-to-edge on the middle vertex, and the closing "
        "check is one more equi-join — never a cartesian.",
)
def s27_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = (s02_ngram_jaccard(spark, sf_dir).select("d1", "d2")
             .localCheckpoint(eager=True))  # three joins + degrees
    # race in one job; eager bounds the s02 pair pass to one run
    # (r09 A/B 1.94 -> 1.79 s)
    deg = (edges.select(F.explode(F.array("d1", "d2")).alias("v"))
           .groupBy("v")
           .agg(F.count(F.lit(1)).cast("bigint").alias("degree")))
    # One degree table serves both the orientation and the output; the
    # oriented edge list feeds three join branches, so materialize it.
    oriented = G.orient_by_degree(
        edges, "d1", "d2",
        degrees=deg.select("v", F.col("degree").alias("deg")),
    ).localCheckpoint(eager=False)
    e1 = oriented.select(F.col("d1").alias("a"), F.col("d2").alias("b"))
    e2 = oriented.select(F.col("d1").alias("b"), F.col("d2").alias("c"))
    e3 = oriented.select(F.col("d1").alias("a"), F.col("d2").alias("c"))
    tri = (e1.join(e2, "b")
           .join(e3, ["a", "c"])
           .select("a", "b", "c"))
    pertri = (tri.select(F.explode(F.array("a", "b", "c")).alias("v"))
              .groupBy("v")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles")))
    j = deg.join(pertri, "v", "left")
    ntri = F.coalesce(F.col("n_triangles"), F.lit(0)).cast("bigint")
    coef = F.when(
        F.col("degree") >= 2,
        (2 * ntri).cast("double")
        / (F.col("degree") * (F.col("degree") - 1)).cast("double")
    ).otherwise(F.lit(0.0))
    return j.select(F.col("v").alias("doc_id"), "degree",
                    ntri.alias("n_triangles"),
                    stable_round(coef).alias("clustering_coef"))


# --------------------------------------------------------------------------
# s28: threshold tuning curve — how many pairs would each Jaccard
# threshold keep? One pair computation, bucketed by score, cumulated
# from the top: the dedup-aggressiveness decision (s02/s19's 0.6,
# s24's 0.85) read off a table instead of re-running the pipeline per
# candidate threshold.
# --------------------------------------------------------------------------
@register(
    "s28_threshold_sweep",
    oracle=f"""
    WITH sh AS ({_SQL_SHINGLES}),
    {sz_sql()},
    {blocked_common_sql()},
    scored AS (
      SELECT CAST(FLOOR(CAST(n_common AS DOUBLE)
                        / CAST(x.n + y.n - n_common AS DOUBLE) * 10)
                  AS BIGINT) AS decile
      FROM common JOIN sz x ON d1 = x.doc_id JOIN sz y ON d2 = y.doc_id
    ),
    hist AS (
      SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM scored GROUP BY decile
    )
    SELECT decile, n_pairs,
           CAST(SUM(n_pairs) OVER (ORDER BY decile DESC
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS n_pairs_at_or_above
    FROM hist
    """,
    doc="Dedup threshold tuning curve: blocked shingle-Jaccard pairs "
        "bucketed into score deciles with the cumulative "
        "pairs-at-or-above count — the table a threshold decision "
        "(s02's 0.6, s24's 0.85) reads. One pair computation; the "
        "cumulative window runs on the 11-row histogram.",
)
def s28_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    # Same single-evaluation blocked overlap as s02/s24; len<3 docs
    # have no oracle shingle rows and cannot reach the sweep's lowest
    # threshold.
    pairs = S.blocked_overlaps(
        load_spread(spark, sf_dir, "documents"),
        redistribute=spark.sparkContext.defaultParallelism)
    j = S.jaccard_col(F.col("n_common"), F.col("n_1"), F.col("n_2"))
    # Curve over OVERLAPPING pairs only: blocked_pairs enumerates every
    # within-block pair, but the oracle's shingle self-join can only
    # see pairs sharing >= 1 shingle — and a zero-overlap pair carries
    # no tuning information anyway.
    hist = (pairs.filter(F.col("n_common") >= 1)
            .select(F.floor(j * 10).cast("bigint").alias("decile"))
            .groupBy("decile")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs")))
    w = W.orderBy(F.col("decile").desc()) \
        .rowsBetween(W.unboundedPreceding, 0)
    return hist.select(
        "decile", "n_pairs",
        F.sum("n_pairs").over(w).cast("bigint")
        .alias("n_pairs_at_or_above"))


# --------------------------------------------------------------------------
# s29: b-bit MinHash (Li & König) — keep only the low b=4 bits of each
# signature lane (4x signature compression) and debias the lane-match
# fraction: E[match] = J + (1-J)/2^b, so Ĵ = (m̂ - 1/2^b)/(1 - 1/2^b).
# The storage lever for planet-scale signature tables, measured here
# against the full-lane estimate on the live candidates.
# --------------------------------------------------------------------------
_BBITS = 4


def _bbit_lane_match_sql() -> str:
    m = 1 << _BBITS
    return " + ".join(
        f"CASE WHEN a.mh{i} % {m} = b.mh{i} % {m} THEN 1 ELSE 0 END"
        for i in range(S.N_PERM))


@register(
    "s29_bbit_minhash",
    oracle=f"""
    WITH sh AS ({_SQL_SHINGLES}),
    h AS (SELECT doc_id, lang, {S.SHINGLE_HASH_SQL} AS h FROM sh),
    mh AS ({_minhash_wide_sql()}),
    bands AS ({_bands_wide_sql()}),
    {cand_sql()}
    SELECT c.d1, c.d2,
           CAST({_lane_match_sql()} AS BIGINT) AS n_full,
           CAST({_bbit_lane_match_sql()} AS BIGINT) AS n_bbit,
           {stable_round_sql(f'CAST({_lane_match_sql()} AS DOUBLE)'
                             f' / {S.N_PERM}.0')} AS est_full,
           {stable_round_sql(
               f'(CAST({_bbit_lane_match_sql()} AS DOUBLE) / {S.N_PERM}.0'
               f' - 1.0 / {1 << _BBITS}.0)'
               f' / (1.0 - 1.0 / {1 << _BBITS}.0)')} AS est_bbit
    FROM cand c JOIN mh a ON a.doc_id = c.d1
                JOIN mh b ON b.doc_id = c.d2
    """,
    doc="b-bit MinHash (b=4, 4x signature compression): per live LSH "
        "candidate pair, the full-lane match count and Jaccard "
        "estimate next to the low-4-bit match count and its debiased "
        "estimate (J = (m - 2^-b)/(1 - 2^-b)) — the storage/accuracy "
        "trade of planet-scale signature tables, measured on the "
        "production candidates. Same one-pass signature machinery as "
        "s26; the b-bit compare is pure integer arithmetic on the "
        "16-lane rows.",
)
def s29_bbit_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    hashed = S.hashed_shingle_docs(load_spread(spark, sf_dir, "documents"))
    sig = (hashed.select("doc_id", "lang", *S.minhash_cols(F.col("hs")))
           .localCheckpoint(eager=False))  # bands + two probe sides —
    # kept lazy like s26's chain (r09 A/B: eager cost 1.86 -> 1.91 s)
    bands = (S.band_signatures_wide(sig, ["doc_id", "lang"])
             .localCheckpoint(eager=False))
    j = S.signature_pairs(S.lsh_candidates(bands), sig)
    n_full = S.matching_lanes().cast("bigint")
    n_bbit = S.matching_lanes(_BBITS).cast("bigint")
    c = 1.0 / (1 << _BBITS)
    return j.select(
        "d1", "d2",
        n_full.alias("n_full"), n_bbit.alias("n_bbit"),
        stable_round(n_full.cast("double") / float(S.N_PERM))
        .alias("est_full"),
        stable_round((n_bbit.cast("double") / float(S.N_PERM) - c)
                     / (1.0 - c)).alias("est_bbit"))

# --------------------------------------------------------------------------
# s30: clustering quality — the "measure it" harness for the embedding
# cluster structure (s07 centroids / s10 k-means): per label, the
# within-cluster inertia and the separation to the nearest other
# centroid. Compact clusters with distant neighbors justify IVF cell
# routing (s08); overlapping ones say re-train before trusting ANN
# recall. Joins carry (label, dim) rows only — the k x k centroid
# distance table never touches the corpus.
# --------------------------------------------------------------------------
@register(
    "s30_cluster_quality",
    oracle=f"""
    WITH dims AS ({_SQL_DIMS}),
    labeled AS (
      SELECT e.label, d.vec_id, d.dim, d.v
      FROM embeddings e JOIN dims d ON e.vec_id = d.vec_id
    ),
    cent AS (
      SELECT label, dim,
             {dsum_sql("v")}
               / CAST(COUNT(*) AS DOUBLE) AS c
      FROM labeled GROUP BY label, dim
    ),
    sq AS (
      SELECT l.label, l.vec_id, (l.v - c.c) * (l.v - c.c) AS s
      FROM labeled l JOIN cent c ON l.label = c.label AND l.dim = c.dim
    ),
    inert AS (
      SELECT label,
             CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_vecs,
             {dsum_sql("s")}
               AS inertia
      FROM sq GROUP BY label
    ),
    cd AS (
      SELECT a.label AS la, b.label AS lb,
             {dsum_sql("(a.c - b.c) * (a.c - b.c)")}
               AS csq
      FROM cent a JOIN cent b ON a.dim = b.dim AND a.label <> b.label
      GROUP BY 1, 2
    ),
    nearest AS (
      SELECT la, lb, csq,
             ROW_NUMBER() OVER (PARTITION BY la ORDER BY csq, lb) AS rk
      FROM cd
    )
    SELECT i.label, i.n_vecs,
           {stable_round_sql('i.inertia')} AS inertia,
           {stable_round_sql('i.inertia / CAST(i.n_vecs AS DOUBLE)')}
             AS mean_sq_dist,
           n.lb AS nearest_label,
           {stable_round_sql('n.csq')} AS nearest_centroid_sq_dist
    FROM inert i JOIN nearest n ON n.la = i.label AND n.rk = 1
    """,
    doc="Clustering quality report: per label, vector count, exact "
        "within-cluster inertia (decimal-summed squared distances to "
        "the exact-mean centroid) and the squared distance to the "
        "nearest other centroid (ties broken by label) — the "
        "compactness/separation evidence behind IVF cell routing and "
        "ANN recall expectations. The k x k centroid table is the "
        "only pairwise object; corpus rows flow through one (label, "
        "dim) centroid join.",
)
def s30_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = load(spark, sf_dir, "embeddings")
    dims = S.vector_dims(e, "vec_id", "embedding")
    labeled = (dims.join(e.select("vec_id", "label"), "vec_id")
               .localCheckpoint(eager=True))  # centroid + distance pass
    # run concurrently in the final job (r09 A/B 1.14 -> 0.98 s eager)
    cent = (labeled.groupBy("label", "dim")
            .agg((dsum("v") / F.count(F.lit(1)).cast("double")).alias("c"))
            .localCheckpoint(eager=True))  # reused three times
    # (inertia + both sides of the k x k separation pass, one job)
    sq = (labeled.join(cent, ["label", "dim"])
          .select("label", "vec_id",
                  ((F.col("v") - F.col("c"))
                   * (F.col("v") - F.col("c"))).alias("s")))
    inert = sq.groupBy("label").agg(
        F.countDistinct("vec_id").cast("bigint").alias("n_vecs"),
        dsum("s", "inertia"))
    ca = cent.select(F.col("label").alias("la"), "dim", F.col("c").alias("cva"))
    cb = cent.select(F.col("label").alias("lb"), "dim", F.col("c").alias("cvb"))
    cd = (ca.join(cb, "dim")
          .filter(F.col("la") != F.col("lb"))
          .groupBy("la", "lb")
          .agg(dsum((F.col("cva") - F.col("cvb"))
                    * (F.col("cva") - F.col("cvb")), "csq")))
    w = W.partitionBy("la").orderBy("csq", "lb")
    nearest = (cd.withColumn("rk", F.row_number().over(w))
               .filter(F.col("rk") == 1))
    j = inert.join(nearest, inert.label == nearest.la)
    return j.select(
        "label", "n_vecs",
        stable_round(F.col("inertia")).alias("inertia"),
        stable_round(F.col("inertia") / F.col("n_vecs").cast("double"))
        .alias("mean_sq_dist"),
        F.col("lb").alias("nearest_label"),
        stable_round(F.col("csq")).alias("nearest_centroid_sq_dist"))


# --------------------------------------------------------------------------
# s32: split-drift check — do the s13-style md5 train/val/test splits
# carry the same embedding distribution? Per (split, label): counts
# and exact-decimal mean vector norms; per split: the share of each
# label. A skewed label share or shifted norm says the split key
# correlates with content and offline eval numbers will lie.
# --------------------------------------------------------------------------
_S32_SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}


@register(
    "s32_split_drift",
    oracle=f"""
    WITH dims AS ({_SQL_DIMS}),
    norms AS ({_SQL_NORMS}),
    s AS (
      SELECT e.vec_id, e.label, n.norm,
             {SA.split_sql_case('e.vec_id', _S32_SPLITS)} AS split
      FROM embeddings e JOIN norms n ON e.vec_id = n.vec_id
    )
    SELECT split, label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           {stable_round_sql(
               dsum_sql("norm") + " / CAST(COUNT(*) AS DOUBLE)")}
             AS mean_norm,
           {stable_round_sql(
               'CAST(COUNT(*) AS DOUBLE) / CAST(SUM(COUNT(*)) '
               'OVER (PARTITION BY split) AS DOUBLE)')} AS label_share
    FROM s GROUP BY split, label
    """,
    doc="Split-drift audit: per (split, label) of the deterministic "
        "md5 train/val/test assignment, vector counts, exact-decimal "
        "mean embedding norm, and the label share within the split — "
        "a skewed share or shifted norm means the split key correlates "
        "with content and offline eval will mislead. The split "
        "predicate is the s13 scan-stage expression; one grouped "
        "aggregation; the normalizing window runs on the "
        "|splits| x |labels| matrix.",
)
def s32_split_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = load(spark, sf_dir, "embeddings")
    dims = S.vector_dims(e, "vec_id", "embedding")
    norms = S.vector_norms(dims, "vec_id")
    s = SA.dataset_split(
        e.select("vec_id", "label").join(norms, "vec_id"),
        "vec_id", _S32_SPLITS)
    g = s.groupBy("split", "label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        (dsum("norm")
         / F.count(F.lit(1)).cast("double")).alias("mean_norm_raw"))
    w = W.partitionBy("split")
    return g.select(
        "split", "label", "n_vecs",
        stable_round(F.col("mean_norm_raw")).alias("mean_norm"),
        stable_round(F.col("n_vecs").cast("double")
                     / F.sum("n_vecs").over(w).cast("double"))
        .alias("label_share"))


# --------------------------------------------------------------------------
# s33: cross-source duplication matrix — WHERE near-dups come from.
# s02/s24 block by (lang, source), so they can never see a doc copied
# BETWEEN sources; s19's LSH candidates band by lang only, so its
# verified pairs include exactly those cross-source copies. One rollup
# over the verified pair set answers the curation question "which
# sources duplicate each other" (mirror detection, licensing leaks,
# scraper overlap) that decides per-source dedup budgets.
# --------------------------------------------------------------------------
@register(
    "s33_cross_source_dup_matrix",
    # The pair set IS s19's registered oracle, composed verbatim — one
    # source of truth for the near-dup definition.
    oracle=f"""
    WITH lab AS (SELECT doc_id, source FROM documents)
    SELECT LEAST(x.source, y.source) AS source_a,
           GREATEST(x.source, y.source) AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN x.source <> y.source THEN 1 ELSE 0 END)
                AS BIGINT) AS n_cross,
           {stable_round_sql(
               dsum_sql("p.jaccard") + " / CAST(COUNT(*) AS DOUBLE)")} AS mean_jaccard
    FROM ({_REGISTRY['s19_lsh_verified_neardup'].oracle}) p
    JOIN lab x ON p.d1 = x.doc_id
    JOIN lab y ON p.d2 = y.doc_id
    GROUP BY 1, 2
    """,
    doc="Cross-source duplication matrix over s19's verified near-dup "
        "pairs (LSH bands by lang only, so cross-source copies are "
        "visible): per unordered source pair, the pair count, the "
        "strictly-cross-source count, and the mean verified Jaccard — "
        "the 'which sources copy from each other' heatmap that sets "
        "per-source dedup budgets. The rollup joins only the pair set "
        "(bounded by near-dup mass, never the corpus) against the "
        "doc->source labels; the matrix is at most |sources|^2 rows.",
)
def s33_cross_source_dup_matrix(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    pairs = s19_lsh_verified_neardup(spark, sf_dir)
    lab = load(spark, sf_dir, "documents").select("doc_id", "source")
    j = (pairs
         .join(lab.select(F.col("doc_id").alias("d1"),
                          F.col("source").alias("src1")), "d1")
         .join(lab.select(F.col("doc_id").alias("d2"),
                          F.col("source").alias("src2")), "d2"))
    n = F.count(F.lit(1))
    return (j.groupBy(
        F.least("src1", "src2").alias("source_a"),
        F.greatest("src1", "src2").alias("source_b"))
        .agg(n.cast("bigint").alias("n_pairs"),
             F.sum((F.col("src1") != F.col("src2")).cast("int"))
             .cast("bigint").alias("n_cross"),
             stable_round(dsum("jaccard") / n.cast("double"))
             .alias("mean_jaccard")))


# --------------------------------------------------------------------------
# s34: quality-aware canonical selection — s14 keeps min(doc_id) per
# near-dup cluster, but a production dedup keeps the BEST member.
# Composition: s14's components x t03's Gopher-style quality score,
# winner = argmax(quality, tie doc_id asc) per component. This is the
# decision rule RefinedWeb/FineWeb-class pipelines apply after fuzzy
# dedup: drop duplicates, keep the highest-quality exemplar.
# --------------------------------------------------------------------------
@register(
    "s34_quality_canonical",
    oracle=f"""
    SELECT doc_id, component_id, n_members, quality,
           CAST(ROW_NUMBER() OVER (PARTITION BY component_id
                                   ORDER BY quality DESC, doc_id) = 1
                AS INT) AS keep
    FROM ({_REGISTRY['s14_neardup_components'].oracle}) c JOIN ({_REGISTRY['t03_quality_score'].oracle}) q USING (doc_id)
    """,
    doc="Quality-aware canonical selection per near-dup cluster: s14's "
        "connected components joined to t03's quality score; one "
        "member per component keeps (argmax quality, doc_id "
        "tie-break), everything else is the dedup drop set. The "
        "ranking window partitions by component (bounded by cluster "
        "size, never global); both inputs are registered queries, so "
        "the oracle composes their SQL verbatim — one near-dup "
        "definition, one quality definition, no drift.",
)
def s34_quality_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    cc = s14_neardup_components(spark, sf_dir).select(
        "doc_id", "component_id", "n_members")
    q = t03_quality_score(spark, sf_dir).select("doc_id", "quality")
    j = cc.join(q, "doc_id")
    w = W.partitionBy("component_id").orderBy(F.desc("quality"), "doc_id")
    return j.select(
        "doc_id", "component_id", "n_members", "quality",
        (F.row_number().over(w) == 1).cast("int").alias("keep"))


# --------------------------------------------------------------------------
# s35: hard-negative mining — the contrastive-training data op: for
# each anchor vector, the most similar candidate with a DIFFERENT
# label. Run inside the IVF cell structure (s08's coarse quantizer):
# a cell collects the vectors the quantizer finds confusable, which is
# exactly where embedding-space hard negatives live, and it bounds the
# candidate set (never all-pairs). Anchors are the probe subset
# (vec_id < 100), the s08 convention for keeping the demo bounded;
# production fans the same plan over everything.
# --------------------------------------------------------------------------
@register(
    "s35_hard_negatives",
    oracle=f"""
    WITH dims AS ({_SQL_DIMS}),
    norms AS ({_SQL_NORMS}),
    labeled AS (
      SELECT e.label, d.dim, d.v
      FROM embeddings e JOIN dims d ON e.vec_id = d.vec_id
    ),
    centroids AS (
      SELECT label, dim,
             {dsum_sql("v")}
               / CAST(COUNT(*) AS DOUBLE) AS cv
      FROM labeled GROUP BY label, dim
    ),
    cdots AS (
      SELECT d.vec_id, c.label,
             {dsum_sql("d.v * c.cv")} AS dot
      FROM dims d JOIN centroids c ON d.dim = c.dim
      GROUP BY d.vec_id, c.label
    ),
    assign AS (
      SELECT vec_id, label AS cell
      FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY vec_id
              ORDER BY {stable_round_sql('dot')} DESC, label) AS rn
            FROM cdots)
      WHERE rn = 1
    ),
    cand AS (
      SELECT q.vec_id AS qid, eq.label AS q_label, q.cell,
             c.vec_id AS cid, ec.label AS neg_label
      FROM assign q
      JOIN assign c ON q.cell = c.cell
      JOIN embeddings eq ON eq.vec_id = q.vec_id
      JOIN embeddings ec ON ec.vec_id = c.vec_id
      WHERE q.vec_id < 100 AND eq.label <> ec.label
    ),
    dots AS (
      SELECT cand.qid, cand.q_label, cand.cell, cand.cid,
             cand.neg_label,
             {dsum_sql("q.v * c.v")} AS dot
      FROM cand JOIN dims q ON cand.qid = q.vec_id
                JOIN dims c ON cand.cid = c.vec_id AND q.dim = c.dim
      GROUP BY 1, 2, 3, 4, 5
    ),
    cos AS (
      SELECT qid, q_label, cell, cid, neg_label,
             CASE WHEN qn.norm > 0 AND cn.norm > 0
                  THEN dot / (qn.norm * cn.norm) ELSE 0.0 END AS cosine
      FROM dots JOIN norms qn ON qid = qn.vec_id
                JOIN norms cn ON cid = cn.vec_id
    ),
    ranked AS (
      SELECT qid, q_label, cell, cid, neg_label,
             {stable_round_sql('cosine')} AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY qid
               ORDER BY {stable_round_sql('cosine')} DESC, cid) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY qid) AS BIGINT) AS n_cross
      FROM cos
    )
    SELECT qid, q_label, cell, n_cross,
           cid AS neg_id, neg_label, cosine
    FROM ranked WHERE rn = 1
    """,
    doc="Hard-negative mining for contrastive training: per anchor "
        "(probe subset vec_id < 100), the highest-cosine candidate "
        "with a different label among its IVF cellmates (s08's coarse "
        "quantizer defines the cells — confusable vectors share one), "
        "plus the cross-label candidate count. Candidate volume is "
        "bounded by cell size; the argmax is one map-side-combinable "
        "max-of-struct per anchor, and the anchor set broadcasts.",
)
def s35_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    vecs = e.select(
        "vec_id", "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    vecs = vecs.withColumn("norm", F.sqrt(S.ddot(F.col("v"), F.col("v"))))
    # Shared quantizer (train_label_centroids/assign_cells — one
    # tie-break definition for s08/s35/s37 and their oracles); the
    # true label rides the assignment as carry payload.
    cent_arr = S.train_label_centroids(e)
    assign = S.assign_cells(vecs, cent_arr,
                            carry=["label", "v", "norm"])
    # EAGER: both probe sides derive from assign inside one job, where
    # a lazy checkpoint cannot serve the second branch (VERDICT r07
    # sweep). A/B at sf0.1 min-of-3: lazy 2.37 s -> eager 2.17 s.
    assign = assign.localCheckpoint(eager=True)
    qa = assign.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("qid"), F.col("label").alias("q_label"),
        "cell", F.col("v").alias("qv"), F.col("norm").alias("qnorm"))
    ca = assign.select(
        F.col("vec_id").alias("cid"), F.col("label").alias("neg_label"),
        "cell", F.col("v").alias("cv2"), F.col("norm").alias("cnorm"))
    cand = (F.broadcast(qa).join(ca, "cell")
            .filter(F.col("q_label") != F.col("neg_label")))
    cos = cand.withColumn(
        "cosine",
        stable_round(
            F.when((F.col("qnorm") > 0) & (F.col("cnorm") > 0),
                   S.ddot(F.col("qv"), F.col("cv2"))
                   / (F.col("qnorm") * F.col("cnorm")))
            .otherwise(F.lit(0.0))))
    hardest = cos.groupBy("qid", "q_label", "cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cross"),
        F.max(F.struct(
            F.col("cosine").alias("cosine"),
            (-F.col("cid")).alias("nc"),
            F.col("neg_label").alias("neg_label"))).alias("b"))
    return hardest.select(
        "qid", "q_label", "cell", "n_cross",
        (-F.col("b.nc")).alias("neg_id"),
        F.col("b.neg_label").alias("neg_label"),
        F.col("b.cosine").alias("cosine"))


# --------------------------------------------------------------------------
# s36: product quantization — the FAISS-standard embedding compression
# for billion-vector indexes: split each 64-dim vector into 4 16-dim
# subvectors, quantize each against a per-subspace codebook (the
# label-trained centroids, this catalog's s07/s08 convention), emit
# the 4-way code and the reconstruction error. At 100 TB the PQ code
# (4 small ints) replaces the 256-byte vector in the index; the
# error column is the fidelity audit that decides the codebook size.
# --------------------------------------------------------------------------
_PQ_SUBS = 4
_PQ_WIDTH = 16  # dims per subspace (4 x 16 = 64)


@register(
    "s36_product_quantization",
    oracle=f"""
    WITH dims AS ({_SQL_DIMS}),
    sdims AS (
      SELECT vec_id, dim, v, CAST((dim - 1) // {_PQ_WIDTH} AS INT) AS sub
      FROM dims
    ),
    labeled AS (
      SELECT e.label, d.vec_id, d.dim, d.sub, d.v
      FROM embeddings e JOIN sdims d ON e.vec_id = d.vec_id
    ),
    cent AS (
      SELECT label, sub, dim,
             {dsum_sql("v")}
               / CAST(COUNT(*) AS DOUBLE) AS cv
      FROM labeled GROUP BY label, sub, dim
    ),
    dist AS (
      SELECT d.vec_id, d.sub, c.label,
             {stable_round_sql(dsum_sql("(d.v - c.cv) * (d.v - c.cv)"))}
               AS dd
      FROM sdims d JOIN cent c ON d.dim = c.dim AND d.sub = c.sub
      GROUP BY 1, 2, 3
    ),
    best AS (
      SELECT vec_id, sub, label, dd
      FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY vec_id, sub ORDER BY dd, label) AS rn
            FROM dist)
      WHERE rn = 1
    )
    SELECT vec_id,
           STRING_AGG(CAST(label AS VARCHAR), '-' ORDER BY sub) AS code,
           {stable_round_sql(dsum_sql("dd"))} AS recon_err
    FROM best GROUP BY vec_id
    """,
    doc="Product quantization (PQ): each vector split into 4 16-dim "
        "subvectors, each assigned to its nearest per-subspace "
        "codeword (label-trained centroids, the s07/s08 codebook "
        "convention) by exact L2, emitting the joined 4-way code and "
        "the total squared reconstruction error. Codebooks broadcast "
        "(|labels| x 4 subarrays); per-vector work is 4 slices x 10 "
        "distance folds, all row-local JVM expressions; the argmin is "
        "a map-side-combinable min-of-struct. No shuffle touches the "
        "raw vectors after the one training aggregate.",
)
def s36_product_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    # load_spread (r10): the per-row work off this scan (subvector
    # slicing, codebook distance folds) is the query's hot loop, and
    # the single-file local fixture otherwise single-threads it —
    # identity on a many-split cluster scan. A/B min-of-3 at sf0.1:
    # 1.95 -> 1.18 s.
    e = load_spread(spark, sf_dir, "embeddings")
    vecs = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    subs = vecs.select(
        "vec_id",
        F.explode(F.array(*[
            F.struct(F.lit(s).alias("sub"),
                     F.slice("v", s * _PQ_WIDTH + 1, _PQ_WIDTH)
                     .alias("sv"))
            for s in range(_PQ_SUBS)])).alias("x")
    ).select("vec_id", F.col("x.sub").alias("sub"),
             F.col("x.sv").alias("sv"))
    # Codebook training: per (label, sub) centroid subarray via the
    # exact decimal per-dim mean (one skew-free shuffle).
    dims = S.vector_dims(e, "vec_id", "embedding")
    labeled = dims.join(e.select("vec_id", "label"), "vec_id")
    cent = (labeled.groupBy("label", "dim")
            .agg((dsum("v") / F.count(F.lit(1)).cast("double")).alias("cv"))
            .withColumn("sub", ((F.col("dim") - 1) / _PQ_WIDTH)
                        .cast("int"))
            .groupBy("label", "sub")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "cv"))),
                lambda s: s["cv"]).alias("cw")))
    # Decimal fold, not a double fold: the oracle's SUM(CAST(term AS
    # DECIMAL)) rounds each (identical-IEEE) squared term to 10 digits
    # then sums exactly — a double fold drifts ~1ulp and one row at
    # sf0.01 lands on a rounding boundary stable_round cannot absorb.
    d2 = F.aggregate(
        F.zip_with("sv", "cw", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast(DEC),
        lambda acc, x: (acc + x.cast(DEC)).cast(DEC)).cast("double")
    scored = (subs.join(F.broadcast(cent), "sub")
              .withColumn("dd", stable_round(d2)))
    best = scored.groupBy("vec_id", "sub").agg(
        F.min(F.struct(F.col("dd").alias("dd"),
                       F.col("label").alias("label"))).alias("b"))
    return best.groupBy("vec_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(
                    F.struct("sub", F.col("b.label").alias("label")))),
                lambda s: s["label"].cast("string")), "-").alias("code"),
        stable_round(dsum(F.col("b.dd"))).alias("recon_err"))


# --------------------------------------------------------------------------
# s37: multi-probe IVF recall sweep — the missing number behind s08's
# single-cell probe: how much recall does each extra probed cell buy?
# Queries rank ALL cells by quantizer dot product; for probe depth
# P in {1,2,3} the candidate set is the union of the P nearest cells'
# members, re-ranked by exact cosine, and compared to the brute-force
# top-3. One candidate-cosine computation serves every depth (a
# candidate carries the probe rank of its cell; depth P filters
# crn <= P) — the sweep costs one pass, not three.
# --------------------------------------------------------------------------
_S37_NQ = 50      # query subset (vec_id < 50)
_S37_K = 3        # recall@K
_S37_MAX_P = 3    # deepest probe


@register(
    "s37_ivf_probe_sweep",
    oracle=f"""
    WITH dims AS ({_SQL_DIMS}),
    norms AS ({_SQL_NORMS}),
    labeled AS (
      SELECT e.label, d.dim, d.v
      FROM embeddings e JOIN dims d ON e.vec_id = d.vec_id
    ),
    centroids AS (
      SELECT label, dim,
             {dsum_sql("v")}
               / CAST(COUNT(*) AS DOUBLE) AS cv
      FROM labeled GROUP BY label, dim
    ),
    cdots AS (
      SELECT d.vec_id, c.label,
             {dsum_sql("d.v * c.cv")} AS dot
      FROM dims d JOIN centroids c ON d.dim = c.dim
      GROUP BY d.vec_id, c.label
    ),
    cellrank AS (
      SELECT vec_id, label AS cell,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY {stable_round_sql('dot')} DESC,
                                         label) AS crn
      FROM cdots
    ),
    assign AS (SELECT vec_id, cell FROM cellrank WHERE crn = 1),
    exdots AS (
      SELECT q.vec_id AS qid, c.vec_id AS cid,
             {dsum_sql("q.v * c.v")} AS dot
      FROM dims q JOIN dims c ON q.dim = c.dim
      WHERE q.vec_id < {_S37_NQ} AND q.vec_id <> c.vec_id
      GROUP BY 1, 2
    ),
    excos AS (
      SELECT qid, cid,
             {stable_round_sql(
                 'CASE WHEN qn.norm > 0 AND cn.norm > 0 '
                 'THEN dot / (qn.norm * cn.norm) ELSE 0.0 END')} AS rcos
      FROM exdots JOIN norms qn ON qid = qn.vec_id
                  JOIN norms cn ON cid = cn.vec_id
    ),
    exact3 AS (
      SELECT qid, cid FROM (
        SELECT qid, cid, ROW_NUMBER() OVER (
            PARTITION BY qid ORDER BY rcos DESC, cid) AS rn
        FROM excos)
      WHERE rn <= {_S37_K}
    ),
    cand AS (
      SELECT qr.vec_id AS qid, a.vec_id AS cid, qr.crn
      FROM cellrank qr JOIN assign a ON a.cell = qr.cell
      WHERE qr.vec_id < {_S37_NQ} AND qr.crn <= {_S37_MAX_P}
        AND a.vec_id <> qr.vec_id
    ),
    cancos AS (
      SELECT cand.qid, cand.cid, cand.crn, e.rcos
      FROM cand JOIN excos e ON e.qid = cand.qid AND e.cid = cand.cid
    ),
    probes AS (SELECT p FROM (VALUES (1), (2), (3)) t(p)),
    retrieved AS (
      SELECT p, qid, cid FROM (
        SELECT pr.p, c.qid, c.cid, ROW_NUMBER() OVER (
            PARTITION BY pr.p, c.qid
            ORDER BY c.rcos DESC, c.cid) AS rn
        FROM cancos c JOIN probes pr ON c.crn <= pr.p)
      WHERE rn <= {_S37_K}
    ),
    nq AS (SELECT CAST(COUNT(DISTINCT qid) AS BIGINT) AS n FROM exact3)
    SELECT r.p AS n_probes,
           CAST(COUNT(x.cid) AS BIGINT) AS n_hits,
           (SELECT n FROM nq) AS n_queries,
           {stable_round_sql(
               'CAST(COUNT(x.cid) AS DOUBLE) '
               f'/ ({_S37_K}.0 * CAST((SELECT n FROM nq) AS DOUBLE))')}
             AS recall
    FROM retrieved r
    LEFT JOIN exact3 x ON x.qid = r.qid AND x.cid = r.cid
    GROUP BY r.p
    """,
    doc="Multi-probe IVF recall sweep: recall@3 of the s08 quantizer "
        "probing its 1, 2, and 3 nearest cells, against the exact "
        "brute-force top-3 (s05 semantics) over the vec_id < 50 query "
        "set. Candidates carry the probe rank of their cell, so one "
        "exact-cosine pass serves all depths; the ranking windows run "
        "per (depth, query) on candidate rows only. The number that "
        "decides nprobe in production FAISS-style deployments.",
)
def s37_ivf_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # load_spread (r10): the N x k probe-rank distance folds ride the
    # scan stage; the single-file fixture single-threads them locally
    # (identity at scale). A/B min-of-3 at sf0.1: 4.90 -> 3.84 s.
    e = load_spread(spark, sf_dir, "embeddings")
    vecs = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    # EAGER (this + cellrank + excos below): each frame feeds 2-3
    # branches of the one materializing job — the lazy-checkpoint
    # double-compute shape (VERDICT r07 sweep). A/B at sf0.1
    # min-of-3 for the whole query: lazy 3.96 s -> eager 3.51 s.
    vecs = (vecs.withColumn("norm", F.sqrt(S.ddot(F.col("v"), F.col("v"))))
            .localCheckpoint(eager=True))  # quantizer + exact + probe
    # Shared quantizer; cell_ranks windows over SCALAR (vec_id, cell,
    # rounded-dot) rows only — arrays/norms join back by vec_id below,
    # never riding the |labels|-fan-out ranking shuffle.
    cent_arr = S.train_label_centroids(e)
    cellrank = (S.cell_ranks(vecs, cent_arr, _S37_MAX_P)
                .localCheckpoint(eager=True))  # queries + assignment
    assign = (cellrank.filter(F.col("crn") == 1)
              .join(vecs, "vec_id")
              .select(F.col("vec_id").alias("cid"), "cell",
                      F.col("v").alias("cv2"),
                      F.col("norm").alias("cnorm")))
    # Exact top-3 baseline: the <=50 query arrays broadcast against
    # the corpus (s05's declared brute-force shape).
    qa = vecs.filter(F.col("vec_id") < _S37_NQ).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"))
    allc = (F.broadcast(qa)
            .join(vecs.select(F.col("vec_id").alias("cid"),
                              F.col("v").alias("cv2"),
                              F.col("norm").alias("cnorm")))
            .filter(F.col("qid") != F.col("cid")))
    rcos = stable_round(
        F.when((F.col("qnorm") > 0) & (F.col("cnorm") > 0),
               S.ddot(F.col("qv"), F.col("cv2"))
               / (F.col("qnorm") * F.col("cnorm")))
        .otherwise(F.lit(0.0)))
    excos = (allc.select("qid", "cid", rcos.alias("rcos"))
             .localCheckpoint(eager=True))  # exact3 + candidate lookup
    wq = Window.partitionBy("qid").orderBy(F.desc("rcos"), "cid")
    exact3 = (excos.select("qid", "cid",
                           F.row_number().over(wq).alias("rn"))
              .filter(F.col("rn") <= _S37_K).select("qid", "cid"))
    # Probed candidates: query's 3 nearest cells x those cells' members.
    qcells = cellrank.filter(
        (F.col("vec_id") < _S37_NQ) & (F.col("crn") <= _S37_MAX_P)
    ).select(F.col("vec_id").alias("qid"), "cell", "crn")
    cand = (qcells.join(assign, "cell")
            .filter(F.col("qid") != F.col("cid"))
            .select("qid", "cid", "crn"))
    cancos = cand.join(excos, ["qid", "cid"])
    # range+cast, not createDataFrame: local-data scans route through
    # a Python worker per job; this stays JVM-only.
    probes = spark.range(1, 4).select(F.col("id").cast("int").alias("p"))
    wr = Window.partitionBy("p", "qid").orderBy(F.desc("rcos"), "cid")
    retrieved = (cancos.join(F.broadcast(probes),
                             F.col("crn") <= F.col("p"))
                 .select("p", "qid", "cid",
                         F.row_number().over(wr).alias("rn"))
                 .filter(F.col("rn") <= _S37_K))
    nq = exact3.agg(F.countDistinct("qid").cast("bigint").alias("n"))
    hits = (retrieved
            .join(exact3.withColumn("hit", F.lit(1)), ["qid", "cid"],
                  "left")
            .groupBy("p")
            .agg(F.sum(F.coalesce("hit", F.lit(0))).cast("bigint")
                 .alias("n_hits")))
    return (hits.join(F.broadcast(nq))
            .select(F.col("p").alias("n_probes"), "n_hits",
                    F.col("n").alias("n_queries"),
                    stable_round(
                        F.col("n_hits").cast("double")
                        / (F.lit(float(_S37_K))
                           * F.col("n").cast("double"))).alias("recall")))


# --------------------------------------------------------------------------
# s38: mutual-kNN graph statistics — the data structure under
# HNSW-style indexes and semantic clustering: within each IVF cell,
# every vector's top-3 cosine neighbors, the MUTUAL edges (both ends
# rank each other), and per-cell connectivity stats. Pair volume is
# cell-bounded (the IVF contract: quadratic only inside a cell), the
# ranking window runs over scalar (qid, cid, cosine) rows, and
# mutuality is one self-join on the top-3 edge list — graph-sized,
# not corpus-sized.
#
# Quantizer: sqrt(N) k-means (sqrtn_kmeans_centroids), NOT the fixed
# label vocabulary — with k = ceil(sqrt(N)) cells the expected cell is
# ~sqrt(N) vectors and the within-cell pair total is ~N^1.5, bounded
# at any corpus size, where |labels|=10 cells made pair work N^2/10
# (measured: 10x replication cost ~100x, VERDICT r07). assign_cells'
# hot-cell budget (max_cell raise) additionally makes a quantizer
# collapse loud instead of a runaway stage.
# --------------------------------------------------------------------------
_S38_K = 3


@register(
    "s38_knn_graph_stats",
    oracle=f"""
    WITH dims AS ({_SQL_DIMS}),
    norms AS ({_SQL_NORMS}),
    {sqrtn_quantizer_sql()},
    pdots AS (
      SELECT a.vec_id AS qid, b.vec_id AS cid, a.cell,
             {dsum_sql("q.v * c.v")} AS dot
      FROM assign a JOIN assign b ON a.cell = b.cell
                                 AND a.vec_id <> b.vec_id
      JOIN dims q ON q.vec_id = a.vec_id
      JOIN dims c ON c.vec_id = b.vec_id AND c.dim = q.dim
      GROUP BY 1, 2, 3
    ),
    pcos AS (
      SELECT qid, cid, cell,
             {stable_round_sql(
                 'CASE WHEN qn.norm > 0 AND cn.norm > 0 '
                 'THEN dot / (qn.norm * cn.norm) ELSE 0.0 END')} AS rcos
      FROM pdots JOIN norms qn ON qid = qn.vec_id
                 JOIN norms cn ON cid = cn.vec_id
    ),
    top3 AS (
      SELECT qid, cid, cell, rcos FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY qid ORDER BY rcos DESC, cid) AS rn
        FROM pcos)
      WHERE rn <= {_S38_K}
    ),
    mutual AS (
      SELECT t1.cell, t1.qid AS a, t1.cid AS b, t1.rcos
      FROM top3 t1 JOIN top3 t2 ON t1.qid = t2.cid
                                AND t1.cid = t2.qid
      WHERE t1.qid < t1.cid
    ),
    cells AS (
      SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vecs FROM assign
      GROUP BY cell
    ),
    ecnt AS (
      SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_edges FROM top3
      GROUP BY cell
    ),
    mstat AS (
      SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_mutual,
             {dsum_sql("rcos")}
               / CAST(COUNT(*) AS DOUBLE) AS mc
      FROM mutual GROUP BY cell
    )
    SELECT c.cell, c.n_vecs,
           COALESCE(e.n_edges, 0) AS n_edges,
           COALESCE(m.n_mutual, 0) AS n_mutual,
           {stable_round_sql('m.mc')} AS mean_mutual_cos
    FROM cells c LEFT JOIN ecnt e ON c.cell = e.cell
                 LEFT JOIN mstat m ON c.cell = m.cell
    """,
    doc="Mutual-kNN graph per IVF cell: every vector's top-3 cosine "
        "neighbors among its cellmates, the mutual edges (each ranks "
        "the other — the robust-neighborhood criterion HNSW and "
        "mutual-kNN clustering build on), and per-cell counts plus "
        "mean mutual cosine. Quantized by sqrt(N) k-means cells "
        "(~sqrt(N) members each, so pair work totals ~N^1.5 at any "
        "scale) under assign_cells' loud hot-cell budget; ranking "
        "windows see scalar rows; mutuality is one self-join on the "
        "top-3 edge list.",
)
def s38_knn_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # load_spread (r10): quantizer seeding + within-cell kNN distance
    # folds ride the scan stage; single-file fixture single-threads
    # them locally (identity at scale). A/B min-of-3: 6.94 -> 4.37 s.
    e = load_spread(spark, sf_dir, "embeddings")
    vecs = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    vecs = vecs.withColumn("norm", F.sqrt(S.ddot(F.col("v"), F.col("v"))))
    cent_arr = S.sqrtn_kmeans_centroids(e)
    # EAGER checkpoint: assign feeds both pair sides AND the cell
    # census inside the one materializing job, where a lazy checkpoint
    # cannot serve the later branches (the symmetrize/degree-cap
    # lesson, VERDICT r07 #3). A/B at sf0.1 is noise-level (eager 5.67
    # vs lazy 5.62 s min-of-3: the capped quantizer made the assign
    # subtree cheap at this SF) — eager is kept because at scale the
    # subtree includes the sqrt(N) k-means TRAINING (several corpus
    # passes) plus the guard's count branch, and each extra consumer
    # would re-run all of it.
    assign = (S.assign_cells(vecs, cent_arr, carry=["v", "norm"])
              .localCheckpoint(eager=True))
    a = assign.select(F.col("vec_id").alias("qid"), "cell",
                      F.col("v").alias("qv"), F.col("norm").alias("qn"))
    b = assign.select(F.col("vec_id").alias("cid"), "cell",
                      F.col("v").alias("cv2"), F.col("norm").alias("cn"))
    rcos = stable_round(
        F.when((F.col("qn") > 0) & (F.col("cn") > 0),
               S.ddot(F.col("qv"), F.col("cv2"))
               / (F.col("qn") * F.col("cn"))).otherwise(F.lit(0.0)))
    pcos = (a.join(b, "cell")
            .filter(F.col("qid") != F.col("cid"))
            .select("cell", "qid", "cid", rcos.alias("rcos")))
    w = Window.partitionBy("qid").orderBy(F.desc("rcos"), "cid")
    top3 = (pcos.select("cell", "qid", "cid", "rcos",
                        F.row_number().over(w).alias("rn"))
            .filter(F.col("rn") <= _S38_K)
            .drop("rn")
            .localCheckpoint(eager=True))  # mutuality self-join + ecnt
    t2 = top3.select(F.col("qid").alias("cid"),
                     F.col("cid").alias("qid"))
    mutual = (top3.join(t2, ["qid", "cid"])
              .filter(F.col("qid") < F.col("cid")))
    cells = assign.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"))
    ecnt = top3.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    mstat = mutual.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_mutual"),
        (dsum("rcos") / F.count(F.lit(1)).cast("double")).alias("mc"))
    return (cells.join(ecnt, "cell", "left")
            .join(mstat, "cell", "left")
            .select("cell", "n_vecs",
                    F.coalesce("n_edges", F.lit(0)).cast("bigint")
                    .alias("n_edges"),
                    F.coalesce("n_mutual", F.lit(0)).cast("bigint")
                    .alias("n_mutual"),
                    stable_round(F.col("mc")).alias("mean_mutual_cos")))


# --------------------------------------------------------------------------
# s39: the INDEX BUILD job — IVF-PQ as a dataflow artifact: every
# vector's coarse cell (s08's quantizer) joined to its PQ code (s36's
# subspace codewords), written PARTITIONED BY CELL (the physical
# layout an ANN server mmaps: one directory per inverted list), read
# back with a cell filter that must prune to one partition, and
# audited per cell. This is what turns the s05-s38 family from
# queries into a deployable index.
# --------------------------------------------------------------------------
@register(
    "s39_ivf_pq_index_build",
    # Assignment and code CTEs composed from the same definitions
    # s08/s36 mirror (the s36 oracle already contains the
    # cell-independent code derivation).
    oracle=f"""
    WITH dims AS ({_SQL_DIMS}),
    labeled AS (
      SELECT e.label, d.dim, d.v
      FROM embeddings e JOIN dims d ON e.vec_id = d.vec_id
    ),
    centroids AS (
      SELECT label, dim,
             {dsum_sql("v")}
               / CAST(COUNT(*) AS DOUBLE) AS cv
      FROM labeled GROUP BY label, dim
    ),
    cdots AS (
      SELECT d.vec_id, c.label,
             {dsum_sql("d.v * c.cv")} AS dot
      FROM dims d JOIN centroids c ON d.dim = c.dim
      GROUP BY d.vec_id, c.label
    ),
    assign AS (
      SELECT vec_id, cell
      FROM (SELECT vec_id, label AS cell, ROW_NUMBER() OVER (
              PARTITION BY vec_id
              ORDER BY {stable_round_sql('dot')} DESC, label) AS rn
            FROM cdots)
      WHERE rn = 1
    ),
    codes AS ({_REGISTRY['s36_product_quantization'].oracle})
    SELECT a.cell,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(COUNT(DISTINCT c.code) AS BIGINT) AS n_distinct_codes,
           {stable_round_sql(
               dsum_sql("c.recon_err") + " / CAST(COUNT(*) AS DOUBLE)")} AS mean_recon_err
    FROM assign a JOIN codes c ON a.vec_id = c.vec_id
    GROUP BY a.cell
    """,
    doc="IVF-PQ index build: coarse cell assignment (s08's quantizer) "
        "joined to PQ codes (s36), written PARTITIONED BY CELL — the "
        "inverted-list layout an ANN server serves — then read back "
        "with a verified partition-pruning filter and audited per "
        "cell (vector count, distinct codes, mean reconstruction "
        "error: the numbers that size the index and flag degenerate "
        "codebooks). The sink roundtrip is part of the query; the "
        "oracle computes the same audit from the registered "
        "definitions directly.",
)
def s39_ivf_pq_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    # load_spread (r10): PQ codebook training folds ride the scan
    # stage (identity at scale). A/B min-of-3: 2.99 -> 2.60 s.
    e = load_spread(spark, sf_dir, "embeddings")
    vecs = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    cent_arr = S.train_label_centroids(e)
    assign = S.assign_cells(vecs, cent_arr)
    codes = s36_product_quantization(spark, sf_dir)
    index = assign.join(codes, "vec_id").select(
        "vec_id", "cell", "code", "recon_err")
    with scratch.workdir("mouse_ivfpq_") as work:
        out = f"{work}/index"
        index.write.mode("overwrite").partitionBy("cell").parquet(out)
        back = spark.read.parquet(out)
        # The audit reads ALL cells; the single-cell pruning contract is
        # plan-tested separately (tests/test_plan_shapes.py).
        return scratch.keep(back.groupBy("cell").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.countDistinct("code").cast("bigint")
            .alias("n_distinct_codes"),
            stable_round(dsum("recon_err")
                         / F.count(F.lit(1)).cast("double"))
            .alias("mean_recon_err")))


# --------------------------------------------------------------------------
# s40: PageRank over the verified near-dup graph — the iterative-
# algorithm pattern (fixed damping 0.85, 3 synchronous iterations)
# expressed as pure DataFrame joins. The edge set is s19's verified
# pair set made symmetric, so every node has outdeg >= 1 and indeg
# >= 1: no dangling mass, rank sum is conserved. Each iteration is one
# |E| join + one |V| aggregation; the edge/degree subtree is lazily
# checkpointed so the three iterations share ONE s19 computation.
# Cross-engine parity by induction: r0 = 1/N is the same double in
# both engines, each contribution r/outdeg is the same IEEE division,
# and each iteration's sum goes through the decimal accumulator — so
# r_k is bit-identical in both engines at every k, and only the final
# output is rounded.
# --------------------------------------------------------------------------
_S40_ITERS = 3


def _s40_oracle_iterations() -> str:
    ctes = []
    prev = "r0"
    for k in range(1, _S40_ITERS + 1):
        ctes.append(f"""
    c{k} AS (
      SELECT e.dst AS doc_id, {dsum_sql("r / CAST(outdeg AS DOUBLE)")} AS s
      FROM e JOIN {prev} ON e.src = {prev}.doc_id
             JOIN deg ON e.src = deg.src
      GROUP BY e.dst
    ),
    r{k} AS (
      SELECT doc_id,
             0.15 / CAST((SELECT n FROM nn) AS DOUBLE) + 0.85 * s AS r
      FROM c{k}
    )""")
        prev = f"r{k}"
    return ",".join(ctes)


@register(
    "s40_neardup_pagerank",
    # The pair set IS s19's registered oracle, composed verbatim — one
    # source of truth for the near-dup definition.
    oracle=f"""
    WITH pr AS MATERIALIZED ({_REGISTRY['s19_lsh_verified_neardup'].oracle}),
    e AS MATERIALIZED (
      SELECT d1 AS src, d2 AS dst FROM pr
      UNION ALL
      SELECT d2 AS src, d1 AS dst FROM pr
    ),
    deg AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
            FROM e GROUP BY 1),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg),
    r0 AS (SELECT src AS doc_id,
                  1.0 / CAST((SELECT n FROM nn) AS DOUBLE) AS r
           FROM deg),{_s40_oracle_iterations()}
    SELECT r.doc_id, deg.outdeg AS degree, {stable_round_sql('r.r')} AS pagerank
    FROM r{_S40_ITERS} r JOIN deg ON r.doc_id = deg.src
    """,
    doc="PageRank (damping 0.85, 3 synchronous iterations) over s19's "
        "verified near-dup graph made symmetric — ranks the most "
        "central exemplars of each duplicate cluster (high-degree hub "
        "docs score above leaf copies, unlike s14's min-doc_id or "
        "s34's per-doc quality). Iterative-algorithm pattern: each "
        "iteration is one |E|-sized join + |V|-sized decimal-sum "
        "aggregation over the lazily-checkpointed edge list, never a "
        "corpus pass; rank values stay bit-identical across engines "
        "by decimal-accumulator induction.",
)
def s40_neardup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mousedatapipeline_spark.operators.graph import symmetrize_edges

    from mousedatapipeline_spark.tables import pin_keyed

    pairs = s19_lsh_verified_neardup(spark, sf_dir).select("d1", "d2")
    # One s19 run shared by the degree table and all three iterations:
    # eager checkpoint materializes the (small) edge list exactly once;
    # every iteration then replans only over the cached |E|-row RDD.
    # Both directions come from one pass (symmetrize_edges) — a union
    # would evaluate the s19 subtree once per branch inside this job.
    edges = symmetrize_edges(pairs, "d1", "d2") \
        .localCheckpoint(eager=True)
    deg = edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("outdeg"))
    # Pinned by the per-iteration join key past broadcast scale: every
    # iteration equi-joins ew on src, and an unpinned layout would
    # re-exchange + re-sort |E| rows per iteration once the |V|-row
    # rank table stops broadcasting (pin_keyed — identity locally).
    ew = pin_keyed(edges.join(deg, "src"), ["src"])
    # |V| is one scalar (bounded driver collect, graph.py precedent);
    # inlining it as a literal avoids four broadcast-exchange jobs.
    n = float(ew.select(F.count_distinct("src")).first()[0])
    r = ew.select("src").distinct().select(
        "src", (F.lit(1.0) / F.lit(n)).alias("r"))
    for _ in range(_S40_ITERS):
        c = (ew.join(r, "src")
             .groupBy("dst")
             .agg(dsum(F.col("r") / F.col("outdeg").cast("double"))
                  .alias("s")))
        r = c.select(F.col("dst").alias("src"),
                     (F.lit(0.15) / F.lit(n)
                      + F.lit(0.85) * F.col("s")).alias("r"))
    return (r.withColumnRenamed("src", "doc_id")
            .join(deg.select(F.col("src").alias("doc_id"),
                             F.col("outdeg").alias("degree")), "doc_id")
            .select("doc_id", "degree",
                    stable_round(F.col("r")).alias("pagerank")))


# --------------------------------------------------------------------------
# s41: top principal direction of the embedding Gram matrix by power
# iteration (3 steps), fully in-engine — the q44/s40 iterative-algebra
# pattern applied to spectral analysis. Per iteration the per-vector
# dot x·v is a ROW-LOCAL left fold over the array (zip_with +
# aggregate: no per-vector shuffle, ever), and the d-dimensional
# update w = sum_i x_i (x_i·v) is one posexplode + groupBy(dim) with
# map-side-combinable decimal sums — shuffle volume is d x partitions,
# not n x d rows. Intermediate v vectors round-trip through the driver
# as 64 bounded doubles (graph.py scalar-collect precedent) so each
# iteration stays one scan of the checkpointed vectors.
# Parity by induction: v0 = 1/sqrt(d) is the same double in both
# engines (sqrt is IEEE-exact), the dot folds are order-matched
# (s23/t17 pattern), and every cross-row sum goes through the
# decimal accumulator (dsum) — so v_k is bit-identical at every k.
# --------------------------------------------------------------------------
_S41_ITERS = 3


def _s41_oracle() -> str:
    # DuckDB forbids subqueries inside lambdas: dd joins in via a
    # 1-row cross join so the lambda sees a plain column.
    v0 = "(1.0 / SQRT(CAST(dd.d AS DOUBLE)))"
    ctes = [f"""
    dims AS MATERIALIZED ({_SQL_DIMS}),
    dd AS (SELECT MAX(len(embedding)) AS d FROM embeddings),
    d1 AS MATERIALIZED (
      SELECT vec_id,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               [CAST(embedding[i] AS DOUBLE) * {v0}
                FOR i IN generate_series(1, len(embedding))]),
               (acc, x) -> acc + x) AS dot
      FROM embeddings, dd)"""]
    for k in range(1, _S41_ITERS + 1):
        ctes.append(f"""
    w{k} AS MATERIALIZED (
      SELECT dims.dim AS dim, {dsum_sql('dims.v * d%d.dot' % k)} AS w
      FROM dims JOIN d{k} USING (vec_id) GROUP BY dims.dim)""")
        if k == _S41_ITERS:
            break
        ctes.append(f"""
    v{k} AS (
      SELECT dim,
             w / (SELECT SQRT({dsum_sql("w * w")}) FROM w{k}) AS v
      FROM w{k}),
    varr{k} AS (SELECT list(v ORDER BY dim) AS varr FROM v{k}),
    d{k + 1} AS MATERIALIZED (
      SELECT vec_id,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               [CAST(embedding[i] AS DOUBLE) * varr[i]
                FOR i IN generate_series(1, len(embedding))]),
               (acc, x) -> acc + x) AS dot
      FROM embeddings, varr{k})""")
    last = _S41_ITERS
    nrm = f"(SELECT SQRT({dsum_sql('w * w')}) FROM w{last})"
    return f"""
    WITH {','.join(ctes)},
    nf AS (SELECT {nrm} AS nrm)
    SELECT dim, {stable_round_sql('w / (SELECT nrm FROM nf)')} AS loading,
           {stable_round_sql('(SELECT nrm FROM nf)')} AS eigenvalue
    FROM w{last}
    """


def _s41_dot(vlit):
    return F.aggregate(
        F.zip_with(F.col("xs"), vlit, lambda a, b: a * b),
        F.lit(0.0), lambda acc, x: acc + x)


def _s41_w(emb: DataFrame, vlit) -> DataFrame:
    # dot is projected BELOW the generator so it is evaluated once per
    # vector, not once per exploded component.
    base = emb.select("xs", _s41_dot(vlit).alias("dot"))
    return (base.select(F.posexplode("xs").alias("pos", "x"), "dot")
            .groupBy("pos")
            .agg(dsum(F.col("x") * F.col("dot")).alias("w")))


def _s41_ssq(wcol):
    from pyspark.sql import Window

    # Global window over d rows (s28's bounded-global-window shape).
    return F.sum((wcol * wcol).cast(DEC)).over(
        Window.partitionBy(F.lit(1))).cast("double")


@register(
    "s41_power_iteration_pca",
    oracle=_s41_oracle(),
    doc="Top principal direction of the embedding Gram matrix by "
        "3-step power iteration, computed entirely in-engine: the "
        "per-vector projection x·v is a row-local array fold (never a "
        "per-vector shuffle) and the d-dim update is one "
        "map-side-combinable groupBy(dim) — shuffle volume is d x "
        "partitions at any corpus size. Returns each dimension's "
        "loading in the dominant eigenvector plus the eigenvalue "
        "estimate ||X'Xv|| — the spectral summary that drives "
        "whitening / anisotropy diagnostics on embedding corpora.",
)
def s41_power_iteration_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("xs"))
    # One materialization shared by every iteration's scan.
    emb = e.localCheckpoint(eager=True)
    d = emb.select(F.max(F.size("xs"))).first()[0]
    v = [1.0 / math.sqrt(float(d))] * d
    for _ in range(_S41_ITERS - 1):
        wdf = _s41_w(emb, F.array(*[F.lit(x) for x in v]))
        rows = wdf.select(
            (F.col("pos") + 1).alias("dim"),
            (F.col("w") / F.sqrt(_s41_ssq(F.col("w")))).alias("v")
        ).collect()
        v = [r.v for r in sorted(rows, key=lambda r: r.dim)]
    wdf = _s41_w(emb, F.array(*[F.lit(x) for x in v]))
    nrm = F.sqrt(_s41_ssq(F.col("w")))
    return wdf.select(
        (F.col("pos") + 1).cast("int").alias("dim"),
        stable_round(F.col("w") / nrm).alias("loading"),
        stable_round(nrm).alias("eigenvalue"))


# --------------------------------------------------------------------------
# s42: Matryoshka / truncated-dimension recall — the eval that decides
# whether an embedding column can be stored and searched at a prefix
# of its dimensions (2-4x cheaper vectors at 100 TB). For each prefix
# depth, the SAME brute-force ranking as s05 runs on slice(v, 1, depth)
# and is scored as recall@3 against s05's full-dimension top-3
# (composed verbatim — one source of truth for "exact"). The depth
# spine rides the broadcast equi-join key, so the plan shape stays
# s05's: one broadcast product of the <=10 query vectors per depth,
# one top-k window, and the recall join runs on k x |queries| rows.
# --------------------------------------------------------------------------
_S42_DEPTHS = (16, 32)


_S42_ORACLE_BODY = f"""
    WITH fdims AS MATERIALIZED ({_SQL_DIMS}),
    dep AS (SELECT CAST(d AS INT) AS depth
            FROM (VALUES {', '.join(f'({d})' for d in _S42_DEPTHS)}) t(d)),
    tdims AS MATERIALIZED (
      SELECT depth, vec_id, dim, v FROM fdims, dep WHERE dim <= depth),
    tnorms AS (
      SELECT depth, vec_id, SQRT({dsum_sql("v * v")}) AS norm
      FROM tdims GROUP BY 1, 2),
    tdots AS (
      SELECT q.depth AS depth, q.vec_id AS qid, c.vec_id AS cid,
             {dsum_sql("q.v * c.v")} AS dot
      FROM tdims q JOIN tdims c ON q.dim = c.dim AND q.depth = c.depth
      WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
      GROUP BY 1, 2, 3),
    tcos AS (
      SELECT d.depth, d.qid, d.cid,
             CASE WHEN qn.norm > 0 AND cn.norm > 0
                  THEN d.dot / (qn.norm * cn.norm) ELSE 0.0 END AS cosine
      FROM tdots d
      JOIN tnorms qn ON d.qid = qn.vec_id AND d.depth = qn.depth
      JOIN tnorms cn ON d.cid = cn.vec_id AND d.depth = cn.depth),
    tranked AS (
      SELECT depth, qid, cid,
             ROW_NUMBER() OVER (
               PARTITION BY depth, qid
               ORDER BY {stable_round_sql('cosine')} DESC, cid) AS rank
      FROM tcos),
    exact AS (SELECT qid, cid FROM ({_REGISTRY['s05_knn_cosine'].oracle}) x WHERE rank <= 3),
    exact_d AS (SELECT depth, qid, cid FROM exact, dep),
    hit AS (
      SELECT e.depth, e.qid,
             CAST(COUNT(a.cid) AS BIGINT) AS n_hit,
             CAST(COUNT(*) AS BIGINT) AS n_exact
      FROM exact_d e
      LEFT JOIN (SELECT * FROM tranked WHERE rank <= 3) a
        ON e.depth = a.depth AND e.qid = a.qid AND e.cid = a.cid
      GROUP BY 1, 2)
    SELECT depth, qid, n_exact, n_hit,
           {stable_round_sql(
               'CAST(n_hit AS DOUBLE) / CAST(n_exact AS DOUBLE)')} AS recall
    FROM hit
"""


@register(
    "s42_matryoshka_recall",
    oracle=_S42_ORACLE_BODY,
    doc="Truncated-dimension (Matryoshka) recall audit: per prefix "
        "depth (16, 32 of 64 dims), brute-force cosine top-3 on the "
        "sliced vectors scored as recall@3 against s05's full-dim "
        "exact top-3 (composed verbatim). The number that decides "
        "whether the vector store can keep 2-4x-smaller prefixes at "
        "100 TB. Same plan shape as s05 — the depth spine rides the "
        "broadcast join key; the recall join touches only k x |queries| "
        "rows per depth.",
)
def s42_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    exact = (s05_knn_cosine(spark, sf_dir)
             .filter(F.col("rank") <= 3).select("qid", "cid"))
    e = load(spark, sf_dir, "embeddings")
    vecs = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    tr = (vecs.select("vec_id", F.explode(F.array(*[
        F.struct(F.lit(d).cast("int").alias("depth"),
                 F.expr(f"slice(v, 1, {d})").alias("tv"))
        for d in _S42_DEPTHS])).alias("p"))
        .select("vec_id", "p.depth", "p.tv")
        .withColumn("norm", F.sqrt(S.ddot(F.col("tv"), F.col("tv")))))
    q = tr.filter(F.col("vec_id") < 10).select(
        "depth", F.col("vec_id").alias("qid"), F.col("tv").alias("qv"),
        F.col("norm").alias("qnorm"))
    c = tr.select("depth", F.col("vec_id").alias("cid"),
                  F.col("tv").alias("cv"), F.col("norm").alias("cnorm"))
    cos = (c.join(F.broadcast(q), "depth")
           .filter(F.col("qid") != F.col("cid"))
           .withColumn("dot", S.ddot(F.col("qv"), F.col("cv")))
           .withColumn("cosine", stable_round(
               F.when((F.col("qnorm") > 0) & (F.col("cnorm") > 0),
                      F.col("dot") / (F.col("qnorm") * F.col("cnorm")))
               .otherwise(F.lit(0.0)))))
    w = Window.partitionBy("depth", "qid").orderBy(
        F.col("cosine").desc(), F.col("cid").asc())
    approx = (cos.withColumn("rank", F.row_number().over(w))
              .filter(F.col("rank") <= 3)
              .select("depth", "qid", "cid", F.lit(1).alias("__hit")))
    exact_d = exact.select(
        "qid", "cid",
        F.explode(F.array(*[F.lit(d).cast("int")
                            for d in _S42_DEPTHS])).alias("depth"))
    j = exact_d.join(approx, ["depth", "qid", "cid"], "left")
    return (j.groupBy("depth", "qid")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"),
                 F.count("__hit").cast("bigint").alias("n_hit"))
            .select("depth", "qid", "n_exact", "n_hit",
                    stable_round(F.col("n_hit").cast("double")
                                 / F.col("n_exact").cast("double"))
                    .alias("recall")))


# --------------------------------------------------------------------------
# s43: label-propagation communities (3 synchronous iterations) over
# the verified near-dup graph — the finer-grained complement to s14's
# connected components: a component that chains two dense clusters
# through one bridge pair splits into its clusters here. Deterministic
# by construction: labels start as own doc_id, each round every node
# adopts its neighbors' (count DESC, label ASC)-ranked majority label,
# ties always break to the smaller label — pure integer counts, no
# float surface at all. Each round is one |E| join + one (node, label)
# count + one per-node top-1 window over candidate labels; the edge
# list is eagerly checkpointed so all rounds share one s19 run.
# --------------------------------------------------------------------------
_S43_ITERS = 3


def _s43_oracle_iterations() -> str:
    out = []
    prev = "l0"
    for k in range(1, _S43_ITERS + 1):
        out.append(f"""
    c{k} AS (
      SELECT e.dst AS v, l.lab AS lab, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM e JOIN {prev} l ON e.src = l.v
      GROUP BY 1, 2),
    l{k} AS (
      SELECT v, lab FROM (
        SELECT v, lab,
               ROW_NUMBER() OVER (PARTITION BY v
                                  ORDER BY cnt DESC, lab ASC) AS rn
        FROM c{k}) x
      WHERE rn = 1)""")
        prev = f"l{k}"
    return ",".join(out)


@register(
    "s43_label_propagation",
    oracle=f"""
    WITH pr AS MATERIALIZED ({_REGISTRY['s19_lsh_verified_neardup'].oracle}),
    e AS MATERIALIZED (
      SELECT d1 AS src, d2 AS dst FROM pr
      UNION ALL
      SELECT d2 AS src, d1 AS dst FROM pr
    ),
    l0 AS (SELECT DISTINCT src AS v, src AS lab FROM e),{_s43_oracle_iterations()}
    SELECT lab AS community,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MIN(v) AS BIGINT) AS min_member,
           CAST(MAX(v) AS BIGINT) AS max_member
    FROM l{_S43_ITERS} GROUP BY lab
    """,
    doc="Label-propagation community detection (3 synchronous rounds, "
        "majority label with count-then-smaller-label tie-break) over "
        "s19's verified near-dup graph — splits bridge-chained "
        "components into their dense clusters, the granularity a "
        "canonical-selection pass actually wants. All-integer "
        "arithmetic (no float parity surface); per round one edge "
        "join, one (node, label) count, one per-node top-1 window, "
        "all over the checkpointed edge list at graph scale.",
)
def s43_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from mousedatapipeline_spark.operators.graph import symmetrize_edges

    from mousedatapipeline_spark.tables import pin_keyed

    pairs = s19_lsh_verified_neardup(spark, sf_dir).select("d1", "d2")
    # Single-pass symmetrization (see s40) before the one checkpoint
    # every round re-reads — pinned by the per-round join key (src)
    # past broadcast scale (pin_keyed: identity locally, one-shuffle
    # layout once the |V|-row label table stops broadcasting).
    edges = pin_keyed(symmetrize_edges(pairs, "d1", "d2"), ["src"])
    lab = edges.select(F.col("src").alias("v")).distinct().select(
        "v", F.col("v").alias("lab"))
    w = Window.partitionBy("v").orderBy(
        F.col("cnt").desc(), F.col("lab").asc())
    for _ in range(_S43_ITERS):
        cand = (edges.join(lab.withColumnRenamed("v", "src"), "src")
                .groupBy(F.col("dst").alias("v"), "lab")
                .agg(F.count(F.lit(1)).cast("bigint").alias("cnt")))
        lab = (cand.withColumn("rn", F.row_number().over(w))
               .filter(F.col("rn") == 1).select("v", "lab"))
    return lab.groupBy(F.col("lab").alias("community")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.min("v").cast("bigint").alias("min_member"),
        F.max("v").cast("bigint").alias("max_member"))
