"""Corpus-hygiene catalog: benchmark decontamination, span-level dedup,
and vocabulary coverage — the checks a training corpus goes through
before anything is tokenized (beyond-reference mandate; the reference
pipeline has no text path, so semantics follow standard practice:
n-gram overlap decontamination as in GPT-3/PaLM appendix methodology,
non-overlapping-span dedup as in CCNet/RefinedWeb).

Scale shapes (the part that matters at 100 TB):
- t10: the eval-side n-gram set is small by construction (eval suites
  are MBs, not TBs) -> broadcast it; the train side never shuffles on
  the gram, only one groupBy(doc_id) whose input is pre-shrunk by the
  broadcast semi/left join.
- t11: chunk frequency via a window over the chunk hash, then one
  groupBy(doc_id) — two shuffles total, both on uniform md5 keys (no
  skew by construction).
- t12: explode -> groupBy(token) shrinks 100 TB of text to a
  vocab-sized table; the single-partition ranking window only ever sees
  the post-aggregation vocabulary, never the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mousedatapipeline_spark.functions.rounding import (
    stable_round,
    stable_round_sql,
)
from mousedatapipeline_spark.operators import sampling as SA
from mousedatapipeline_spark.operators import text as T
from mousedatapipeline_spark.operators.aggregates import dsum, dsum_sql
from mousedatapipeline_spark.plans.catalog import _REGISTRY, register
from mousedatapipeline_spark.plans.curation_queries import SPLIT_FRACTIONS
from mousedatapipeline_spark.tables import load, load_spread

# Docs whose id is divisible by EVAL_MOD stand in for the held-out
# benchmark set; everything else is the training corpus.
EVAL_MOD = 10
NGRAM = 5           # overlap n-gram width (t10)
CHUNK = 16          # span width in tokens (t11)
CONTAM_THRESHOLD = 0.5
VOCAB_TOP = 100

_SQL_TOKENS = "list_filter(string_split(lower(text), ' '), t -> t <> '')"


@register(
    "t10_decontamination",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents),
    g AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+{NGRAM - 1}], ' ') AS gram
      FROM tk, UNNEST(generate_series(1, greatest(len(t) - {NGRAM - 1}, 0)))
           AS u(i)
    ),
    ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % {EVAL_MOD} = 0),
    per AS (
      SELECT g.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM(CASE WHEN ev.gram IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_hit
      FROM g LEFT JOIN ev ON g.gram = ev.gram
      WHERE g.doc_id % {EVAL_MOD} <> 0
      GROUP BY g.doc_id
    )
    SELECT doc_id, n_grams, n_hit,
           {stable_round_sql(
               'CAST(n_hit AS DOUBLE) / CAST(n_grams AS DOUBLE)')}
             AS contamination,
           CAST(CAST(n_hit AS DOUBLE) / CAST(n_grams AS DOUBLE)
                >= {CONTAM_THRESHOLD} AS INT) AS flagged
    FROM per
    """,
    doc="Benchmark decontamination: per training doc, the fraction of "
        "its distinct 5-grams that also occur in the held-out eval set "
        "(doc_id % 10 == 0). Eval grams broadcast; one groupBy(doc_id).",
)
def t10_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_spread(spark, sf_dir, "documents")
    grams = F.array_distinct(
        T.ngrams_from_tokens(T.tokens(F.col("text")), NGRAM))
    ex = d.select("doc_id", F.explode(grams).alias("gram"))
    ev = (ex.filter(F.col("doc_id") % EVAL_MOD == 0)
          .select("gram").distinct()
          .withColumn("hit", F.lit(1)))
    train = ex.filter(F.col("doc_id") % EVAL_MOD != 0)
    per = (train.join(F.broadcast(ev), "gram", "left")
           .groupBy("doc_id")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_grams"),
                F.coalesce(F.sum("hit"), F.lit(0))
                .cast("bigint").alias("n_hit")))
    frac = F.col("n_hit").cast("double") / F.col("n_grams").cast("double")
    return per.select(
        "doc_id", "n_grams", "n_hit",
        stable_round(frac).alias("contamination"),
        (frac >= CONTAM_THRESHOLD).cast("int").alias("flagged"))


@register(
    "t11_span_dedup",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents),
    ch AS (
      SELECT doc_id,
             md5(array_to_string(t[({CHUNK}*j+1):({CHUNK}*j+{CHUNK})], ' '))
               AS chunk
      FROM tk, UNNEST(generate_series(0, len(t) // {CHUNK} - 1)) AS u(j)
    ),
    fr AS (SELECT chunk, CAST(COUNT(*) AS BIGINT) AS freq
           FROM ch GROUP BY chunk),
    per AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_chunks,
             CAST(SUM(CASE WHEN freq > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_chunks
      FROM ch JOIN fr USING (chunk)
      GROUP BY doc_id
    )
    SELECT doc_id, n_chunks, n_dup_chunks,
           {stable_round_sql(
               'CAST(n_dup_chunks AS DOUBLE) / CAST(n_chunks AS DOUBLE)')}
             AS dup_span_frac
    FROM per
    """,
    doc="Span-level dedup signal: fraction of a doc's non-overlapping "
        "16-token chunks whose md5 occurs more than once corpus-wide. "
        "Chunk frequency by window (no join), then one groupBy(doc_id).",
)
def t11_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    ch = d.select(
        "doc_id",
        F.explode(T.chunk_hashes(T.tokens(F.col("text")), CHUNK))
        .alias("chunk"))
    # Window count over the chunk hash instead of groupBy+self-join:
    # one shuffle on a uniform md5 key, and the doc_id rides along so
    # the per-doc rollup needs no join back.
    freq = F.count(F.lit(1)).over(Window.partitionBy("chunk"))
    per = (ch.withColumn("freq", freq)
           .groupBy("doc_id")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
                F.sum((F.col("freq") > 1).cast("int"))
                .cast("bigint").alias("n_dup_chunks")))
    return per.select(
        "doc_id", "n_chunks", "n_dup_chunks",
        stable_round(F.col("n_dup_chunks").cast("double")
                     / F.col("n_chunks").cast("double"))
        .alias("dup_span_frac"))


@register(
    "t12_vocab_coverage",
    oracle=f"""
    WITH ex AS (SELECT unnest({_SQL_TOKENS}) AS token FROM documents),
    c AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM ex
          GROUP BY token),
    r AS (
      SELECT token, n,
             CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) AS BIGINT)
               AS rank,
             CAST(SUM(n) OVER (ORDER BY n DESC, token
                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_n,
             CAST(SUM(n) OVER () AS BIGINT) AS total_n
      FROM c
    )
    SELECT token, n, rank, cum_n,
           {stable_round_sql(
               'CAST(cum_n AS DOUBLE) / CAST(total_n AS DOUBLE)')}
             AS cum_coverage
    FROM r WHERE rank <= {VOCAB_TOP}
    """,
    doc="Vocabulary extraction: global top-100 tokens with cumulative "
        "corpus coverage. The ranking window runs on the vocab-sized "
        "aggregate, never the corpus.",
)
def t12_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    counts = (d.select(F.explode(T.tokens(F.col("text"))).alias("token"))
              .groupBy("token")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    # Distributed top-k (orderBy+limit -> TakeOrderedAndProject)
    # before any window: the counts table is vocabulary-sized, and the
    # previous global row_number/cumsum windows sorted all of it
    # through ONE partition. The rank-ordered prefix of the top-k set
    # equals the prefix of the full set ((n DESC, token) is a total
    # order), so rank and cum_n are value-identical; the corpus-wide
    # total comes from a plain aggregate (map-side partials) attached
    # as a broadcast one-row scalar.
    total = counts.agg(F.sum("n").cast("bigint").alias("total_n"))
    top = counts.orderBy(F.desc("n"), "token").limit(VOCAB_TOP)
    w = Window.orderBy(F.desc("n"), "token")
    # Explicit 1-row scalar broadcast (crossJoin, no synthetic key):
    # the scalar-subquery shape, self-evident in the plan (ADVICE r07).
    ranked = (top.select(
        "token", "n",
        F.row_number().over(w).cast("bigint").alias("rank"),
        F.sum("n").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint").alias("cum_n"))
        .crossJoin(F.broadcast(total)))
    return ranked.select("token", "n", "rank", "cum_n",
                         stable_round(F.col("cum_n").cast("double")
                                      / F.col("total_n").cast("double"))
                         .alias("cum_coverage"))


# --------------------------------------------------------------------------
# s18: bloom-pre-filtered decontamination membership. The 100 TB shape
# of "which training docs touch the eval set": instead of joining every
# training gram against the eval grams, a Bloom filter built FROM the
# eval grams is collected (it is KBs — eval suites are small by
# construction) and embedded as an array<long> literal, so the first
# pass is a pure scan-stage expression that discards ~all clean grams
# with zero shuffle and no join. Only the surviving candidates take the
# exact broadcast semi-join that removes Bloom false positives, so the
# result is EXACT — bit-identical to the plain semi-join the oracle
# runs — while the shuffled/joined volume is the contaminated sliver,
# not the corpus. (Spark's own runtime bloom filters are not exposed
# to SQL in OSS builds; this is the same mechanism, hand-rolled.)
# --------------------------------------------------------------------------
@register(
    "s18_bloom_decontam",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents),
    g AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+{NGRAM - 1}], ' ') AS gram
      FROM tk, UNNEST(generate_series(1, greatest(len(t) - {NGRAM - 1}, 0)))
           AS u(i)
    ),
    ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % {EVAL_MOD} = 0)
    SELECT DISTINCT g.doc_id
    FROM g JOIN ev ON g.gram = ev.gram
    WHERE g.doc_id % {EVAL_MOD} <> 0
    """,
    doc="Decontamination membership via a scan-stage Bloom pre-filter: "
        "training docs sharing any 5-gram with the eval set. The Bloom "
        "filter over eval grams is an 8 KB array<long> literal checked "
        "entirely inside the scan stage; an exact broadcast semi-join "
        "confirms survivors, so false positives are removed and the "
        "output equals the plain exact semi-join.",
)
def s18_bloom_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Single-file fixture arrives as ONE partition; spread the
    # tokenize/ngram work before the per-row-expensive explode
    # (conditional — a no-op on an already-parallel source).
    d = load_spread(spark, sf_dir, "documents")
    grams = F.array_distinct(
        T.ngrams_from_tokens(T.tokens(F.col("text")), NGRAM))
    ex = d.select("doc_id", F.explode(grams).alias("gram"))
    # The eval gram set is consumed twice (bloom build + exact confirm
    # broadcast); checkpoint it so the eval docs are tokenized once.
    # Lazy is CORRECT here: the first consumer (the bloom-literal
    # collect below) is its own job and materializes the checkpoint
    # before the exact-confirm broadcast ever runs — sequential, not
    # concurrent, consumers (r09 A/B: forcing eager cost 3.03 ->
    # 3.35 s, one extra materialization pass).
    ev = (ex.filter(F.col("doc_id") % EVAL_MOD == 0)
          .select("gram").distinct().localCheckpoint(eager=False))

    # Build phase: k bit positions per eval gram -> per-word OR of the
    # set bits -> collect the (tiny) word table into a dense literal
    # (operators/bloom.py).
    from mousedatapipeline_spark.operators import bloom
    blit = bloom.bloom_bits_literal(ev, "gram")

    train = ex.filter(F.col("doc_id") % EVAL_MOD != 0)
    candidates = train.filter(bloom.might_contain(blit, "gram"))
    exact = candidates.join(F.broadcast(ev), "gram", "left_semi")
    return exact.select("doc_id").distinct()


@register(
    "t18_novelty_scan",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents),
    g AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+{NGRAM - 1}], ' ') AS gram
      FROM tk, UNNEST(generate_series(1, greatest(len(t) - {NGRAM - 1}, 0)))
           AS u(i)
    ),
    first AS (
      SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY gram
    )
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           {stable_round_sql(
               'CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 '
               'END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)')} AS novelty
    FROM g JOIN first f ON g.gram = f.gram
    GROUP BY g.doc_id
    """,
    doc="Corpus novelty scan (incremental-ingestion dedup signal): per "
        "document, the fraction of its distinct 5-grams whose global "
        "first occurrence (min doc_id = arrival order) is this "
        "document — 1.0 = all-new content, ~0 = fully covered by "
        "earlier arrivals, the keep/skip signal an append-only corpus "
        "applies before admitting a crawl batch. One gram-keyed "
        "groupBy for first-arrivals, one shuffle join back (both "
        "corpus-keyed, no broadcast dependence), one groupBy(doc_id).",
)
def t18_novelty_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_spread(spark, sf_dir, "documents")
    grams = F.array_distinct(
        T.ngrams_from_tokens(T.tokens(F.col("text")), NGRAM))
    ex = (d.select("doc_id", F.explode(grams).alias("gram"))
          .localCheckpoint(eager=True))  # feeds first-arrival AND probe
    # — concurrent sides of one join job; eager bounds the tokenize/
    # explode pass to one run (r09 A/B 1.02 -> 0.95 s)
    first = ex.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    per = (ex.join(first, "gram")
           .groupBy("doc_id")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_grams"),
                F.sum((F.col("first_doc") == F.col("doc_id")).cast("int"))
                .cast("bigint").alias("n_novel")))
    return per.select(
        "doc_id", "n_grams", "n_novel",
        stable_round(F.col("n_novel").cast("double")
                     / F.col("n_grams").cast("double")).alias("novelty"))


SPAN_CHUNK = 8  # tokens per chunk for span localization (t21)


@register(
    "t21_shared_span_localization",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents),
    ch AS (
      SELECT doc_id, CAST(j AS BIGINT) AS idx,
             md5(array_to_string(
               t[({SPAN_CHUNK}*j+1):({SPAN_CHUNK}*j+{SPAN_CHUNK})], ' '))
               AS h
      FROM tk, UNNEST(generate_series(0, len(t) // {SPAN_CHUNK} - 1)) AS u(j)
    ),
    pairs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2,
             CAST(COUNT(DISTINCT a.h) AS BIGINT) AS n_shared
      FROM ch a JOIN ch b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING COUNT(DISTINCT a.h) >= 2
    ),
    bset AS (SELECT DISTINCT doc_id, h FROM ch),
    hits AS (
      SELECT p.d1, p.d2, a.idx
      FROM pairs p
      JOIN ch a ON a.doc_id = p.d1
      JOIN bset b ON b.doc_id = p.d2 AND b.h = a.h
    ),
    isl AS (
      SELECT d1, d2, idx,
             idx - ROW_NUMBER() OVER (PARTITION BY d1, d2
                                      ORDER BY idx) AS grp
      FROM hits
    ),
    runs AS (
      SELECT d1, d2, grp, CAST(COUNT(*) AS BIGINT) AS run_len
      FROM isl GROUP BY d1, d2, grp
    )
    SELECT p.d1, p.d2, p.n_shared,
           CAST(MAX(r.run_len) AS BIGINT) AS max_run
    FROM pairs p JOIN runs r ON r.d1 = p.d1 AND r.d2 = p.d2
    GROUP BY p.d1, p.d2, p.n_shared
    """,
    doc="Shared-span localization for near-dup diagnostics: document "
        "pairs sharing >= 2 distinct 8-token chunk hashes, with the "
        "LONGEST consecutive run of matched chunks in d1's order "
        "(gaps-and-islands: idx minus per-pair row_number groups "
        "consecutive hits) — distinguishes one long lifted passage "
        "from scattered boilerplate at equal overlap counts. The "
        "chunk-hash join is the inverted index (bounded by shared "
        "mass, never all-pairs); the islands window partitions per "
        "pair.",
)
def t21_shared_span_localization(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    ch = (d.select(
        "doc_id",
        F.posexplode(T.chunk_hashes(T.tokens(F.col("text")), SPAN_CHUNK))
        .alias("idx", "h"))
        .select("doc_id", F.col("idx").cast("bigint").alias("idx"), "h")
        .localCheckpoint(eager=False))  # three consumers below — kept
    # lazy: the pair agg materializes it before the span stages read
    # it (r09 A/B: eager cost 0.89 -> 0.96 s)
    a = ch.select(F.col("doc_id").alias("d1"), "idx", "h")
    b = ch.select(F.col("doc_id").alias("d2"), F.col("h").alias("hb"))
    pairs = (a.join(b, (F.col("h") == F.col("hb"))
                    & (F.col("d1") < F.col("d2")))
             .groupBy("d1", "d2")
             .agg(F.countDistinct("h").cast("bigint").alias("n_shared"))
             .filter(F.col("n_shared") >= 2))
    bset = ch.select(F.col("doc_id").alias("d2"), "h").distinct()
    hits = (pairs.join(a, "d1")
            .join(bset, ["d2", "h"])
            .select("d1", "d2", "n_shared", "idx"))
    w = Window.partitionBy("d1", "d2").orderBy("idx")
    isl = hits.withColumn("grp", F.col("idx") - F.row_number().over(w))
    runs = isl.groupBy("d1", "d2", "n_shared", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("run_len"))
    return runs.groupBy("d1", "d2", "n_shared").agg(
        F.max("run_len").cast("bigint").alias("max_run"))


@register(
    "t22_dedup_adjusted_tokens",
    oracle="""
    WITH t AS (
      SELECT source, md5(text) AS h,
             CAST(len(list_filter(string_split(lower(text), ' '),
                                  x -> x <> '')) AS BIGINT) AS n_tok
      FROM documents
    ),
    g AS (
      SELECT source, h, n_tok, CAST(COUNT(*) AS BIGINT) AS n_copies
      FROM t GROUP BY source, h, n_tok
    )
    SELECT source,
           CAST(SUM(n_tok * n_copies) AS BIGINT) AS raw_tokens,
           CAST(SUM(n_tok) AS BIGINT) AS unique_tokens,
           CAST(SUM(n_tok * (n_copies - 1)) AS BIGINT)
             AS duplicated_tokens
    FROM g GROUP BY source
    """,
    doc="Dedup-adjusted token accounting: per source, the raw token "
        "count, the count after exact dedup (each distinct text "
        "counted once), and the tokens that exact dedup would remove "
        "— the correction between a naive corpus-size claim and the "
        "effective training budget (c03 plans mixtures from the "
        "former; this query says how wrong that is per source). One "
        "groupBy on (source, content-hash), then the source rollup.",
)
def t22_dedup_adjusted_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    t = d.select(
        "source",
        T.content_hash(F.col("text")).alias("h"),
        T.token_count(F.col("text")).cast("bigint").alias("n_tok"))
    g = t.groupBy("source", "h", "n_tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_copies"))
    return g.groupBy("source").agg(
        F.sum(F.col("n_tok") * F.col("n_copies")).cast("bigint")
        .alias("raw_tokens"),
        F.sum("n_tok").cast("bigint").alias("unique_tokens"),
        F.sum(F.col("n_tok") * (F.col("n_copies") - 1)).cast("bigint")
        .alias("duplicated_tokens"))


@register(
    "t26_substring_removal",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents),
    ch AS (
      SELECT doc_id, CAST(j AS BIGINT) AS idx,
             {T.packed_occurrence_key_sql("doc_id", "j")} AS pk,
             md5(array_to_string(
               t[({SPAN_CHUNK}*j+1):({SPAN_CHUNK}*j+{SPAN_CHUNK})], ' '))
               AS h
      FROM tk, UNNEST(generate_series(0, len(t) // {SPAN_CHUNK} - 1)) AS u(j)
    ),
    fst AS (SELECT h, MIN(pk) AS first_pk FROM ch GROUP BY h),
    rmv AS (
      SELECT doc_id, idx,
             idx - ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY idx) AS grp
      FROM ch JOIN fst USING (h) WHERE pk > first_pk
    ),
    runs AS (
      SELECT doc_id, grp FROM rmv
      GROUP BY doc_id, grp HAVING COUNT(*) >= 2
    ),
    rmset AS (
      SELECT rmv.doc_id, LIST(rmv.idx) AS rm
      FROM rmv JOIN runs ON runs.doc_id = rmv.doc_id
                        AND runs.grp = rmv.grp
      GROUP BY rmv.doc_id
    ),
    built AS (
      SELECT tk.doc_id,
             CAST(len(t) AS BIGINT) AS n_tokens,
             list_transform(
               list_filter(generate_series(1, len(t)),
                           i -> NOT list_contains(
                                  COALESCE(rm, []),
                                  (i - 1) // {SPAN_CHUNK})),
               i -> t[i]) AS kept
      FROM tk LEFT JOIN rmset ON rmset.doc_id = tk.doc_id
    )
    SELECT doc_id, n_tokens,
           CAST(n_tokens - len(kept) AS BIGINT) AS n_removed,
           -- array_to_string([]) is NULL in DuckDB, '' in Spark
           COALESCE(array_to_string(kept, ' '), '') AS clean_text
    FROM built
    """,
    doc="Exact-substring dedup, the Lee et al. 2022 training-data "
        "operation t11/t21 only DETECT: per document, remove runs of "
        ">= 2 consecutive duplicated 8-token chunks whose content "
        "already occurred earlier in the corpus (earliest (doc, "
        "position) occurrence wins and is kept), and reconstruct the "
        "cleaned text. Chunk-hash anchoring replaces the sequential "
        "suffix array: one map-side-combinable MIN over the chunk "
        "hash picks winners (no window over hot-boilerplate hash "
        "partitions), a corpus-keyed join marks losers, per-doc "
        "gaps-and-islands finds the runs, and a JVM higher-order "
        "filter rebuilds the token stream. operators/text.py:"
        "remove_duplicate_spans.",
)
def t26_substring_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return T.remove_duplicate_spans(
        d, id_col="doc_id", text_col="text",
        chunk=SPAN_CHUNK, min_run=2)


@register(
    "t30_split_contamination",
    oracle=f"""
    WITH sp AS (
      SELECT doc_id, text,
             {SA.split_sql_case('doc_id', SPLIT_FRACTIONS)} AS split
      FROM documents
    ),
    ex AS (
      SELECT doc_id, split, g
      FROM (SELECT doc_id, split,
                   list_distinct([array_to_string(
                       t[i:i+{NGRAM - 1}], ' ')
                     FOR i IN generate_series(1, len(t) - {NGRAM - 1})])
                   AS gs
            FROM (SELECT doc_id, split, {_SQL_TOKENS} AS t FROM sp)
            WHERE len(t) >= {NGRAM}),
           UNNEST(gs) AS u(g)
    ),
    tr AS (SELECT DISTINCT g FROM ex WHERE split = 'train'),
    per AS (
      SELECT e.split, e.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM(CASE WHEN tr.g IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_hit
      FROM ex e LEFT JOIN tr ON e.g = tr.g
      WHERE e.split <> 'train'
      GROUP BY 1, 2
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_hit * 2 >= n_grams THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flagged,
           {stable_round_sql(
               dsum_sql("CAST(n_hit AS DOUBLE) / CAST(n_grams AS DOUBLE)")
               + " / CAST(COUNT(*) AS DOUBLE)")}
             AS mean_contamination
    FROM per GROUP BY split
    """,
    doc="Split-leakage audit — the check every train/val/test cut "
        "should ship with: using s13's deterministic md5 split "
        "assignment, the fraction of each held-out doc's distinct "
        "5-grams that also occur in ANY train-split doc, rolled up "
        "per split (doc count, docs >= 50% contaminated via an "
        "integer-safe 2*hit >= grams compare, mean contamination). "
        "The train gram set joins corpus-keyed (t18's shape, no "
        "broadcast dependence); one groupBy(doc) then a 2-row "
        "rollup.",
)
def t30_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = SA.dataset_split(load_spread(spark, sf_dir, "documents"),
                         "doc_id", SPLIT_FRACTIONS)
    grams = F.array_distinct(
        T.ngrams_from_tokens(T.tokens(F.col("text")), NGRAM))
    ex = (d.select("doc_id", "split", F.explode(grams).alias("g"))
          .localCheckpoint(eager=True))  # train set AND eval probe
    # — concurrent sides of one join job (r09 A/B 1.57 -> 1.22 s
    # eager: the tokenize/explode pass runs once, not per side)
    tr = (ex.filter(F.col("split") == "train")
          .select("g").distinct().withColumn("hit", F.lit(1)))
    per = (ex.filter(F.col("split") != "train")
           .join(tr, "g", "left")
           .groupBy("split", "doc_id")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_grams"),
                F.coalesce(F.sum("hit"), F.lit(0)).cast("bigint")
                .alias("n_hit")))
    frac = F.col("n_hit").cast("double") / F.col("n_grams").cast("double")
    return per.groupBy("split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum((F.col("n_hit") * 2 >= F.col("n_grams")).cast("int"))
        .cast("bigint").alias("n_flagged"),
        stable_round(dsum(frac) / F.count(F.lit(1)).cast("double"))
        .alias("mean_contamination"))


@register(
    "t31_dedup_savings_by_source",
    # t26's registered oracle composed verbatim — one removal
    # definition shared between the row-level op and this planning
    # rollup.
    oracle=f"""
    WITH lab AS (SELECT doc_id, source FROM documents)
    SELECT lab.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(p.n_tokens) AS BIGINT) AS raw_tokens,
           CAST(SUM(p.n_removed) AS BIGINT) AS removed_tokens,
           {stable_round_sql(
               'CAST(SUM(p.n_removed) AS DOUBLE)'
               ' / CAST(SUM(p.n_tokens) AS DOUBLE)')} AS savings_share
    FROM ({_REGISTRY['t26_substring_removal'].oracle}) p JOIN lab ON p.doc_id = lab.doc_id
    GROUP BY lab.source
    """,
    doc="Substring-dedup savings report: t26's removal results rolled "
        "up per source — document count, raw tokens, tokens the "
        "chunk-run removal deletes, and the savings share — the "
        "per-source number that says where the duplication actually "
        "lives and prices the dedup pass (t22 gives the exact-dup "
        "equivalent). Joins t26's per-doc rows (corpus-keyed) to the "
        "doc->source labels, then a |sources|-row rollup.",
)
def t31_dedup_savings_by_source(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    per = t26_substring_removal(spark, sf_dir).select(
        "doc_id", "n_tokens", "n_removed")
    lab = load(spark, sf_dir, "documents").select("doc_id", "source")
    j = per.join(lab, "doc_id")
    raw = F.sum("n_tokens")
    rm = F.sum("n_removed")
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        raw.cast("bigint").alias("raw_tokens"),
        rm.cast("bigint").alias("removed_tokens"),
        stable_round(rm.cast("double") / raw.cast("double"))
        .alias("savings_share"))
