"""Training-data curation catalog: deterministic stratified sampling
(data mixing), train/val/test splitting, PII redaction, and context-
window sequence packing — the ops between "deduped corpus" and "ready
to train" at 100 TB.

All four are pure column expressions / single-window shapes: the
sampling and split predicates evaluate in the scan stage (no shuffle),
redaction is a per-row regex chain (JVM codegen, no UDF), and packing
is one window over (lang). Parity with the DuckDB oracle comes from
sharing the md5-bucket thresholds and regex patterns via
operators/sampling.py and operators/text.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mousedatapipeline_spark import scratch
from mousedatapipeline_spark.functions.rounding import (
    stable_round,
    stable_round_sql,
)
from mousedatapipeline_spark.operators import sampling as SA
from mousedatapipeline_spark.operators import similarity as S
from mousedatapipeline_spark.operators import text as T
from mousedatapipeline_spark.operators.aggregates import dsum, dsum_sql
from mousedatapipeline_spark.operators.graph import connected_components
from mousedatapipeline_spark.plans.catalog import _REGISTRY, register
from mousedatapipeline_spark.plans.similarity_queries import (
    VERIFY_JACCARD,
    _bands_wide_sql,
    _minhash_wide_sql,
    cand_common_sql,
    cand_sql,
    degree_cap_sql,
    lsh_verified_edges,
    sz_sql,
    verified_sql,
)
from mousedatapipeline_spark.plans.text_queries import t03_quality_score
from mousedatapipeline_spark.tables import load, load_spread

# Mixing rates: rebalance the synthetic corpus toward under-represented
# languages (en is ~44% of documents; see TESTDATA.md).
MIX_RATES = {"en": 0.25, "de": 0.5, "fr": 0.5, "es": 0.75, "zh": 1.0}

SPLIT_FRACTIONS = {"train": 0.8, "val": 0.1, "test": 0.1}

PACK_BUDGET = 512  # tokens per context window


def _mix_sql_keep() -> str:
    arms = " ".join(
        f"WHEN lang = '{s}' THEN {SA.keep_predicate_sql('doc_id', r)}"
        for s, r in MIX_RATES.items())
    return f"CASE {arms} ELSE FALSE END"


def _mix_sql_weight() -> str:
    arms = " ".join(
        f"WHEN lang = '{s}' THEN {1.0 / r!r}"
        for s, r in MIX_RATES.items() if r > 0)
    return f"CASE {arms} END"


# --------------------------------------------------------------------------
# s12: stratified deterministic sampling (data mixing).
# --------------------------------------------------------------------------
@register(
    "s12_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang, source,
           CAST({_mix_sql_weight()} AS DOUBLE) AS weight
    FROM documents
    WHERE {_mix_sql_keep()}
    """,
    doc="Deterministic per-language Bernoulli downsampling with "
        "inverse-rate weights (training-data mixing). Membership is a "
        "pure function of md5(doc_id) — reproducible across re-runs, "
        "partitionings and engines; evaluated in the scan stage "
        "(zero shuffles).",
)
def s12_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    out = SA.stratified_sample(d, key="doc_id", stratum="lang",
                               rates=MIX_RATES)
    return out.select("doc_id", "lang", "source", "weight")


# --------------------------------------------------------------------------
# s13: train/val/test split census.
# --------------------------------------------------------------------------
@register(
    "s13_dataset_split",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, lang,
             {SA.split_sql_case('doc_id', SPLIT_FRACTIONS)} AS split
      FROM documents
    )
    SELECT split, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM s GROUP BY split, lang
    """,
    doc="Deterministic train/val/test assignment via consecutive "
        "md5-bucket ranges (a new row never moves an existing one "
        "between splits), plus a per-(split, lang) census.",
)
def s13_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    s = SA.dataset_split(d, key="doc_id", fractions=SPLIT_FRACTIONS)
    return (s.groupBy("split", "lang")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.min("doc_id").alias("min_doc"),
                 F.max("doc_id").alias("max_doc")))


# --------------------------------------------------------------------------
# t07: PII redaction. The synthetic corpus is PII-free, so both engines
# splice a deterministic contact line (email + ip + phone derived from
# doc_id) into the text before scrubbing — the patterns fire on every
# row and the hash check covers the full redacted string.
# --------------------------------------------------------------------------
_AUG_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || "
    "'@example.org at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || "
    "CAST((doc_id * 7) % 256 AS VARCHAR) || ' tel 555-123-' || "
    "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
)


def _aug_spark() -> F.Column:
    return F.concat(
        F.col("text"), F.lit(" contact user"),
        F.col("doc_id").cast("string"), F.lit("@example.org at 10.0."),
        (F.col("doc_id") % 256).cast("string"), F.lit("."),
        ((F.col("doc_id") * 7) % 256).cast("string"),
        F.lit(" tel 555-123-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"))


@register(
    "t07_pii_redaction",
    oracle=f"""
    WITH aug AS (SELECT doc_id, {_AUG_SQL} AS t FROM documents)
    SELECT doc_id,
           {', '.join(T.pii_counts_sql('t'))},
           CAST(length({T.redact_pii_sql('t')}) AS BIGINT) AS redacted_len,
           md5({T.redact_pii_sql('t')}) AS redacted_hash
    FROM aug
    """,
    doc="PII scrubbing: email/IPv4/phone regex redaction + per-pattern "
        "hit counts. Patterns live in the Java-regex ∩ RE2 subset so "
        "both engines replace identical spans; pure regexp_replace "
        "chain — JVM codegen, no UDF, no shuffle.",
)
def t07_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    aug = d.select("doc_id", _aug_spark().alias("t"))
    red = T.redact_pii(F.col("t"))
    return aug.select(
        "doc_id", *T.pii_counts(F.col("t")),
        F.length(red).cast("bigint").alias("redacted_len"),
        F.md5(red).alias("redacted_hash"))


# --------------------------------------------------------------------------
# t08: sequence packing (concat-then-chunk context windows).
# --------------------------------------------------------------------------
_SQL_NTOK = ("len(list_filter(string_split(lower(text), ' '), "
             "x -> x <> ''))")


@register(
    "t08_sequence_packing",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, CAST({_SQL_NTOK} AS BIGINT) AS n_tok
      FROM documents
    ),
    placed AS (
      SELECT lang, doc_id, n_tok,
             SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) - n_tok AS tok_start
      FROM toks
    )
    SELECT lang, CAST(tok_start // {PACK_BUDGET} AS BIGINT) AS chunk_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS chunk_tokens,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM placed GROUP BY lang, chunk_id
    """,
    doc=f"Sequence packing for LLM pretraining: documents laid end-to-"
        f"end per language, chunked into {PACK_BUDGET}-token context "
        f"windows (concat-then-chunk, GPT-loader style). One window "
        f"over (lang) + one aggregate — no driver loop, deterministic "
        f"at any parallelism.",
)
def t08_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", "lang",
                    T.token_count(F.col("text")).alias("n_tok"))
    placed = SA.pack_sequences(toks, group=["lang"], order="doc_id",
                               tokens="n_tok", budget=PACK_BUDGET)
    return (placed.groupBy("lang", "chunk_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("n_tok").cast("bigint").alias("chunk_tokens"),
                 F.min("doc_id").alias("first_doc"),
                 F.max("doc_id").alias("last_doc")))


# --------------------------------------------------------------------------
# s15: exact-k per-stratum sample census.
# --------------------------------------------------------------------------
SAMPLE_K = 40


@register(
    "s15_exact_k_sample",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents
    )
    SELECT doc_id, lang FROM ranked WHERE rk <= {SAMPLE_K}
    """,
    doc=f"Exact-size per-language sample: every language contributes "
        f"exactly min({SAMPLE_K}, n) documents, ranked by md5(doc_id) "
        f"— a deterministic uniform order. One window shuffle; "
        f"membership is engine- and partitioning-independent.",
)
def s15_exact_k_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return SA.exact_k_per_stratum(d, key="doc_id", stratum="lang",
                                  k=SAMPLE_K).select("doc_id", "lang")


# --------------------------------------------------------------------------
# s16: temperature-scaled source mixing weights (alpha = 0.5): weight
# ∝ n^0.5 (UL2/PaLM-style temperature mix).
# --------------------------------------------------------------------------


@register(
    "s16_temperature_mix",
    oracle="""
    WITH c AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
      GROUP BY source
    ),
    w AS (
      SELECT source, n_docs,
             CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE)) * 1000000.0 + 0.5001)
                  / 1000000.0 AS DECIMAL(18,6)) AS w6,
             CAST(SUM(n_docs) OVER () AS BIGINT) AS total_docs
      FROM c
    )
    SELECT source, n_docs,
           CAST(w6 AS DOUBLE) AS w_raw,
           FLOOR(CAST(w6 AS DOUBLE)
                 / CAST(SUM(w6) OVER () AS DOUBLE) * 1000000.0 + 0.5001)
             / 1000000.0 AS mix_prob,
           FLOOR(CAST(w6 AS DOUBLE) / CAST(SUM(w6) OVER () AS DOUBLE)
                 * CAST(total_docs AS DOUBLE) / CAST(n_docs AS DOUBLE)
                 * 1000000.0 + 0.5001) / 1000000.0 AS boost
    FROM w
    """,
    doc="Temperature-scaled data mixing: per-source sampling weight "
        "∝ sqrt(n_docs), normalized to a probability, plus the "
        "up/down-sampling boost vs natural frequency. The sqrt weights "
        "are rounded to 6 decimals and summed as DECIMAL so the "
        "normalizer is exact and order-independent — the property that "
        "makes the result reproducible on any partitioning (and any "
        "engine). One groupBy(source); windows run on the handful of "
        "source rows.",
)
def s16_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mousedatapipeline_spark.functions.rounding import stable_round
    d = load(spark, sf_dir, "documents")
    c = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    # Round each sqrt weight to 6 decimals, then sum as DECIMAL: the
    # normalizer is exact, so its value cannot depend on summation
    # order (doubles would differ between engines/partitionings here).
    w6 = stable_round(F.sqrt(F.col("n_docs").cast("double"))) \
        .cast("decimal(18,6)")
    win = Window.partitionBy()
    w = c.select(
        "source", "n_docs", w6.alias("w6"),
        F.sum("n_docs").over(win).cast("bigint").alias("total_docs"))
    tot_w = F.sum("w6").over(win).cast("double")
    prob_raw = F.col("w6").cast("double") / tot_w
    return w.select(
        "source", "n_docs",
        F.col("w6").cast("double").alias("w_raw"),
        stable_round(prob_raw).alias("mix_prob"),
        stable_round(prob_raw * F.col("total_docs").cast("double")
                     / F.col("n_docs").cast("double")).alias("boost"))


# --------------------------------------------------------------------------
# s17: deterministic global shuffle into interleaved training shards.
# --------------------------------------------------------------------------
N_SHARDS = 16  # one per md5 first-nibble


@register(
    "s17_shuffle_shards",
    oracle="""
    WITH h AS (
      SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents
    ),
    p AS (
      SELECT doc_id, substr(hx, 1, 1) AS shard,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY substr(hx, 1, 1) ORDER BY hx, doc_id)
               AS BIGINT) AS pos
      FROM h
    )
    SELECT doc_id, shard, pos,
           CAST((pos - 1) * 16
                + strpos('0123456789abcdef', shard) - 1 AS BIGINT)
             AS interleaved_pos
    FROM p
    """,
    doc="Deterministic global shuffle for training-order assignment: "
        "shard = first md5 nibble (16 shards), position = rank of the "
        "full md5 within the shard, plus the round-robin interleaved "
        "read position. No global sort — each shard sorts "
        "independently after one hash partition, which is how the "
        "shuffle scales to 100 TB (shard count becomes O(files), the "
        "per-shard sort stays distributed).",
)
def s17_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    h = d.select("doc_id",
                 F.md5(F.col("doc_id").cast("string")).alias("hx"))
    p = h.select(
        "doc_id", F.substring("hx", 1, 1).alias("shard"),
        F.row_number().over(
            Window.partitionBy(F.substring("hx", 1, 1))
            .orderBy("hx", "doc_id")).cast("bigint").alias("pos"),
    )
    return p.select(
        "doc_id", "shard", "pos",
        ((F.col("pos") - 1) * N_SHARDS
         + F.instr(F.lit("0123456789abcdef"), F.col("shard")) - 1)
        .cast("bigint").alias("interleaved_pos"))


@register(
    "t16_jsonl_export_roundtrip",
    oracle="""
    WITH h AS (
      SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
             doc_id, lang, text
      FROM documents
    )
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum,
           -- md5-prefix integer: constant cost per doc (the
           -- per-codepoint string_hash fold is O(len^2) on long texts)
           CAST(SUM(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT))
                AS BIGINT) AS text_hash_sum
    FROM h GROUP BY shard
    """,
    doc="Training-data export round trip: documents hashed into 16 md5-"
        "nibble shards, written as one JSONL file per shard dir "
        "(sinks.write_jsonl_shards), read back with an explicit schema, "
        "and content-checked per shard via an integer text-hash sum — "
        "the oracle computes the same sums from the source table, so "
        "any JSON mangling (escaping, encoding, truncation) hash-fails.",
)
def t16_jsonl_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    from mousedatapipeline_spark.sources.sinks import write_jsonl_shards

    d = load(spark, sf_dir, "documents").select(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
        .alias("shard"),
        "doc_id", "lang", "text")
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("lang", T.StringType()),
        T.StructField("text", T.StringType()),
    ])
    with scratch.workdir("mouse_jsonl_t16_") as out:
        write_jsonl_shards(d, str(out), "shard")
        # No glob (the file-sink metadata probe logs one as a missing
        # path) and no inferred `shard` partition column: the shard comes
        # back from the file name.
        back = (spark.read.schema(schema)
                .option("recursiveFileLookup", "true").json(str(out))
                .withColumn("shard",
                            F.regexp_extract(F.input_file_name(),
                                             r"shard=([0-9a-f])", 1)))
        return scratch.keep(back.groupBy("shard").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("doc_id").cast("bigint").alias("id_sum"),
            F.sum(F.conv(F.substring(F.md5(F.col("text")), 1, 8), 16, 10)
                  .cast("bigint")).cast("bigint").alias("text_hash_sum")))


# --------------------------------------------------------------------------
# c01: the curation pipeline END-TO-END — the LLM-side analog of
# m05_pipeline_e2e. Quality gate -> exact dedup -> deterministic split
# -> per-(split, lang) census, one lazy plan: the quality expressions
# evaluate in the scan stage, dedup is one window over md5(text), the
# split predicate is another scan-stage expression, and the census is
# the single aggregation shuffle.
# --------------------------------------------------------------------------
_C01_STOPWORDS_SQL = (
    "len(list_filter(string_split(lower(text), ' '), "
    "t -> list_contains(["
    + ", ".join(f"'{w}'" for w in T.EN_STOPWORDS)
    + "], t)))")

# The ONE inline (single-expression) SQL twin of T.quality_score —
# shared by the c02 and c06 oracles so a future tweak to the scorer has
# exactly two SQL surfaces to update (this and c01's staged-CTE form)
# instead of three hand-maintained copies (code-review r06).  The text
# (including indentation) is byte-identical to what c02's oracle
# previously inlined, so c02's driver proof remains valid.
_QUALITY_SQL = f"""LEAST(CAST({_SQL_NTOK} AS DOUBLE) / 50.0, 1.0) * 0.4
             + LEAST(CASE WHEN {_SQL_NTOK} > 0 THEN
                 CAST({_C01_STOPWORDS_SQL} AS DOUBLE)
                 / CAST({_SQL_NTOK} AS DOUBLE)
                 ELSE 0.0 END * 4.0, 1.0) * 0.3
             + CASE WHEN length(text) > 0 THEN
                 CAST(len(regexp_extract_all(lower(text), '[a-z ]')) AS DOUBLE)
                 / CAST(length(text) AS DOUBLE) ELSE 0.0 END * 0.3"""


@register(
    "c01_curation_e2e",
    oracle=f"""
    WITH f AS (
      SELECT doc_id, lang, text,
             CAST({_SQL_NTOK} AS DOUBLE) AS n_tok,
             CASE WHEN {_SQL_NTOK} > 0 THEN
               CAST({_C01_STOPWORDS_SQL} AS DOUBLE)
               / CAST({_SQL_NTOK} AS DOUBLE) ELSE 0.0 END AS sw_ratio,
             CASE WHEN length(text) > 0 THEN
               CAST(len(regexp_extract_all(lower(text), '[a-z ]')) AS DOUBLE)
               / CAST(length(text) AS DOUBLE) ELSE 0.0 END AS alpha_ratio
      FROM documents
    ),
    scored AS (
      SELECT doc_id, lang, text, n_tok,
             LEAST(n_tok / 50.0, 1.0) * 0.4
             + LEAST(sw_ratio * 4.0, 1.0) * 0.3
             + alpha_ratio * 0.3 AS quality
      FROM f
    ),
    kept AS (SELECT * FROM scored WHERE quality >= 0.5),
    deduped AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text)
                                     ORDER BY doc_id) AS rn
        FROM kept) WHERE rn = 1
    ),
    assigned AS (
      SELECT *, {SA.split_sql_case('doc_id', SPLIT_FRACTIONS)} AS split
      FROM deduped
    )
    SELECT split, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(n_tok AS BIGINT)) AS BIGINT) AS total_tokens,
           {stable_round_sql(
               dsum_sql("quality") + " / CAST(COUNT(*) AS DOUBLE)")}
             AS mean_quality
    FROM assigned GROUP BY split, lang
    """,
    doc="Curation pipeline end-to-end (the LLM-side m05): Gopher-style "
        "quality gate (scan-stage expressions) -> exact dedup (one "
        "window over md5(text), canonical = min doc_id) -> "
        "deterministic md5-range split -> per-(split, lang) census "
        "with decimal-exact mean quality. One window shuffle + one "
        "aggregation shuffle, total.",
)
def c01_curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    q = T.quality_score(F.col("text"))
    scored = d.select(
        "doc_id", "lang", "text",
        T.token_count(F.col("text")).cast("double").alias("n_tok"),
        q.alias("quality"))
    kept = scored.filter(F.col("quality") >= 0.5)
    w = Window.partitionBy(F.md5(F.col("text"))).orderBy("doc_id")
    deduped = (kept.withColumn("rn", F.row_number().over(w))
               .filter(F.col("rn") == 1))
    assigned = SA.dataset_split(deduped, key="doc_id",
                                fractions=SPLIT_FRACTIONS)
    n = F.count(F.lit(1))
    return assigned.groupBy("split", "lang").agg(
        n.cast("bigint").alias("n_docs"),
        F.sum(F.col("n_tok").cast("bigint")).cast("bigint")
        .alias("total_tokens"),
        stable_round(dsum("quality") / n.cast("double"))
        .alias("mean_quality"))


@register(
    "c02_dedup_funnel_report",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, source, md5(text) AS h,
             CAST({_SQL_NTOK} AS BIGINT) AS n_tok,
             {_QUALITY_SQL}
               AS quality
      FROM documents
    ),
    canon AS (SELECT h, MIN(doc_id) AS cid FROM base GROUP BY h)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(CASE WHEN doc_id = cid THEN 1 END) AS BIGINT)
             AS n_after_exact,
           CAST(COUNT(CASE WHEN doc_id = cid AND quality >= 0.5 THEN 1 END)
                AS BIGINT) AS n_final,
           CAST(COALESCE(SUM(CASE WHEN doc_id = cid AND quality >= 0.5
                                  THEN n_tok END), 0) AS BIGINT)
             AS tokens_final
    FROM base JOIN canon ON base.h = canon.h
    GROUP BY source
    """,
    doc="Curation funnel report: per source, raw doc count -> survivors "
        "of exact dedup (doc is canonical iff doc_id = min over its md5 "
        "group) -> survivors of the t03 quality gate, plus the final "
        "token budget — the dashboard a data-mixing decision reads. "
        "Two shuffles (hash groupBy + the canonical join, both keyed "
        "on the content hash) and one source rollup; the quality "
        "signal evaluates in the scan stage. The stopword list is "
        "shared with operators/text.py (EN_STOPWORDS).",
)
def c02_dedup_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", "source",
        T.content_hash(F.col("text")).alias("h"),
        T.token_count(F.col("text")).cast("bigint").alias("n_tok"),
        T.quality_score(F.col("text")).alias("quality"))
    # Canonical id as ONE window over the content hash (the s14/c06
    # idiom), not groupBy+self-join: the join form scanned documents
    # twice (the canon branch re-derived md5 from parquet) and
    # re-evaluated md5 inside both scan stages' join-key null filters.
    # One scan, one hash shuffle — and at scale the join form degrades
    # to the same shuffle anyway once `canon` stops broadcasting.
    j = base.withColumn(
        "cid", F.min("doc_id").over(Window.partitionBy("h")))
    is_canon = F.col("doc_id") == F.col("cid")
    is_final = is_canon & (F.col("quality") >= 0.5)
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count(F.when(is_canon, 1)).cast("bigint").alias("n_after_exact"),
        F.count(F.when(is_final, 1)).cast("bigint").alias("n_final"),
        F.coalesce(F.sum(F.when(is_final, F.col("n_tok"))), F.lit(0))
        .cast("bigint").alias("tokens_final"))


_SORT_BUCKETS = 4


@register(
    "t20_sorted_export_roundtrip",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, lang,
             doc_id % {_SORT_BUCKETS} AS bucket
      FROM documents
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_id,
           CAST(0 AS BIGINT) AS order_violations
    FROM b GROUP BY bucket
    """,
    doc="Clustered/sorted data layout, verified PHYSICALLY: documents "
        "repartition onto deterministic buckets, sortWithinPartitions "
        "on doc_id, one parquet file per bucket. The read-back counts "
        "adjacent out-of-order pairs per FILE (lag over the file's "
        "arrival order) — any broken clustering or lost sort makes "
        "order_violations nonzero and hash-fails against the oracle's "
        "constant 0. Sorted layout is the 100 TB lever behind "
        "min/max-pruned scans and merge-friendly compaction; the sort "
        "itself is per-partition (no global range exchange needed "
        "when the bucketing carries the coarse order).",
)
def t20_sorted_export_roundtrip(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id", "lang")
    bucketed = d.withColumn("bucket", F.col("doc_id") % _SORT_BUCKETS)
    w = Window.partitionBy("f").orderBy("mid")
    with scratch.workdir("mouse_t20_") as out:
        (bucketed.repartition(_SORT_BUCKETS, "bucket")
         .sortWithinPartitions("doc_id")
         .write.mode("overwrite").parquet(str(out)))
        back = spark.read.parquet(str(out)).select(
            "bucket", "doc_id",
            F.input_file_name().alias("f"),
            F.monotonically_increasing_id().alias("mid"))
        flagged = back.withColumn(
            "viol",
            (F.col("doc_id") < F.lag("doc_id").over(w)).cast("int"))
        return scratch.keep(flagged.groupBy("bucket").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("min_id"),
            F.max("doc_id").cast("bigint").alias("max_id"),
            F.coalesce(F.sum("viol"), F.lit(0)).cast("bigint")
            .alias("order_violations")))


TOKEN_BUDGET = 50_000  # declared training-mix token budget


@register(
    "c03_mixture_plan",
    oracle=f"""
    WITH lt AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(list_filter(string_split(lower(text), ' '),
                                      t -> t <> ''))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang
    ),
    tot AS (SELECT SUM(n_tokens) AS corpus_tokens FROM lt)
    SELECT lang, n_docs, n_tokens,
           {stable_round_sql(
               'CAST(n_tokens AS DOUBLE) / CAST((SELECT corpus_tokens '
               'FROM tot) AS DOUBLE)')} AS natural_share,
           {stable_round_sql(
               f'LEAST(({TOKEN_BUDGET}.0 / 5.0) '
               '/ CAST(n_tokens AS DOUBLE), 1.0)')} AS sample_rate,
           CAST(FLOOR(LEAST(({TOKEN_BUDGET}.0 / 5.0)
                / CAST(n_tokens AS DOUBLE), 1.0)
                * CAST(n_tokens AS DOUBLE)) AS BIGINT)
             AS planned_tokens
    FROM lt
    """,
    doc="Training-mix planner: per-language token inventory (one "
        "grouped scan, token counts as row-local expressions), the "
        "natural share, and the sampling rate that equalizes each "
        "language toward budget/5 tokens (uniform target mix, capped "
        "at 1.0 — upsampling is a repetition decision, not a sampling "
        "one). The numbers s12/s16 execute; this query plans them. "
        "The 1-row corpus total is a scalar-subquery broadcast.",
)
def c03_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    lt = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(T.token_count(F.col("text"))).cast("bigint")
        .alias("n_tokens"))
    tot = lt.agg(F.sum("n_tokens").alias("corpus_tokens"))
    target = F.lit(float(TOKEN_BUDGET)) / F.lit(5.0)
    rate = F.least(target / F.col("n_tokens").cast("double"), F.lit(1.0))
    return (lt.join(F.broadcast(tot))
            .select("lang", "n_docs", "n_tokens",
                    stable_round(F.col("n_tokens").cast("double")
                                 / F.col("corpus_tokens").cast("double"))
                    .alias("natural_share"),
                    stable_round(rate).alias("sample_rate"),
                    F.floor(rate * F.col("n_tokens").cast("double"))
                    .cast("bigint").alias("planned_tokens")))


@register(
    "c04_quality_threshold_curve",
    # t03's registered oracle composed verbatim: ONE quality
    # definition shared with the per-doc scorer.
    oracle=f"""
    WITH q AS ({_REGISTRY['t03_quality_score'].oracle}),
    tk AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(lower(text), ' '),
                                  t -> t <> '')) AS BIGINT) AS n_tok
      FROM documents
    ),
    b AS (
      SELECT q.lang,
             CAST(LEAST(FLOOR(q.quality * 10), 9) AS INT) AS bucket,
             tk.n_tok
      FROM q JOIN tk ON q.doc_id = tk.doc_id
    ),
    g AS (
      SELECT lang, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS tokens
      FROM b GROUP BY lang, bucket
    )
    SELECT lang, bucket, n_docs, tokens,
           {stable_round_sql(
               'CAST(SUM(tokens) OVER (PARTITION BY lang '
               'ORDER BY bucket DESC ROWS UNBOUNDED PRECEDING) '
               'AS DOUBLE) / CAST(SUM(tokens) OVER '
               '(PARTITION BY lang) AS DOUBLE)')} AS kept_token_share
    FROM g
    """,
    doc="Quality-threshold calibration curve: per (lang, quality "
        "decile bucket), document and token counts plus the share of "
        "the language's tokens KEPT if the cut were set at that "
        "bucket — the evidence behind t03's fixed 0.5 verdict and the "
        "knob c03's mixture planner trades against. Buckets are fixed "
        "(floor(quality*10), capped at 9) so the histogram is "
        "scan-stage; the cumulative windows run on the <=10-row "
        "per-lang aggregate, never the corpus.",
)
def c04_quality_threshold_curve(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    q = t03_quality_score(spark, sf_dir).select("doc_id", "lang",
                                                "quality")
    tk = load(spark, sf_dir, "documents").select(
        "doc_id", T.token_count(F.col("text")).cast("bigint")
        .alias("n_tok"))
    b = (q.join(tk, "doc_id")
         .select("lang",
                 F.least(F.floor(F.col("quality") * 10), F.lit(9))
                 .cast("int").alias("bucket"), "n_tok"))
    g = b.groupBy("lang", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("tokens"))
    w_cum = (Window.partitionBy("lang")
             .orderBy(F.desc("bucket"))
             .rowsBetween(Window.unboundedPreceding, 0))
    w_all = Window.partitionBy("lang")
    return g.select(
        "lang", "bucket", "n_docs", "tokens",
        stable_round(F.sum("tokens").over(w_cum).cast("double")
                     / F.sum("tokens").over(w_all).cast("double"))
        .alias("kept_token_share"))


# --------------------------------------------------------------------------
# c05: small-file compaction planning (the OPTIMIZE bin-packing pass a
# lakehouse table needs after streaming/CDC ingest). The file manifest
# is simulated from documents (file_id = doc_id, size = length(text),
# partition = source); within each partition files are packed in
# file_id order into target-sized output bins by exclusive running
# sum — exactly the deterministic greedy packing Delta/Iceberg
# OPTIMIZE uses. All-integer arithmetic: no float parity surface.
# Scale: one window over the MANIFEST (metadata, ~1e6 rows per million
# files), never the data; the plan is what a 100-TB rewrite job would
# then execute per bin.
# --------------------------------------------------------------------------
_C05_TARGET = 16_384  # bytes per output file (SF-friendly small target)


@register(
    "c05_compaction_plan",
    oracle=f"""
    WITH manifest AS (
      SELECT source, doc_id AS file_id, length(text) AS sz
      FROM documents
    ),
    packed AS (
      SELECT source, file_id, sz,
             COALESCE(SUM(sz) OVER (PARTITION BY source ORDER BY file_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS cum_before
      FROM manifest
    ),
    binned AS (
      SELECT source, file_id, sz,
             CAST(FLOOR(cum_before / {_C05_TARGET}) AS BIGINT) AS bin
      FROM packed
    )
    SELECT source, bin,
           CAST(COUNT(*) AS BIGINT) AS n_input_files,
           CAST(SUM(sz) AS BIGINT) AS total_bytes,
           CAST(MIN(file_id) AS BIGINT) AS first_file,
           CAST(MAX(file_id) AS BIGINT) AS last_file,
           CAST(SUM(sz) >= {_C05_TARGET} AS BOOLEAN) AS full_bin
    FROM binned GROUP BY source, bin
    """,
    doc="Small-file compaction planning (lakehouse OPTIMIZE): packs "
        "each source partition's files in file_id order into "
        f"{_C05_TARGET}-byte output bins via an exclusive running sum "
        "— the deterministic greedy bin-packing Delta/Iceberg "
        "OPTIMIZE executes — and reports per output bin the input "
        "file count, byte total, id range, and whether the bin "
        "reached target (typically only each partition's tail bin "
        "does not; an oversized file can also strand a short bin). "
        "Runs on the file MANIFEST, never the data: one window + one "
        "groupBy at metadata scale regardless of table size.",
)
def c05_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = load(spark, sf_dir, "documents").select(
        "source", F.col("doc_id").alias("file_id"),
        F.length("text").cast("bigint").alias("sz"))
    w = (Window.partitionBy("source").orderBy("file_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    packed = m.select(
        "source", "file_id", "sz",
        F.coalesce(F.sum("sz").over(w), F.lit(0)).alias("cum_before"))
    binned = packed.select(
        "source", "file_id", "sz",
        F.floor(F.col("cum_before") / _C05_TARGET)
        .cast("bigint").alias("bin"))
    return binned.groupBy("source", "bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_input_files"),
        F.sum("sz").cast("bigint").alias("total_bytes"),
        F.min("file_id").cast("bigint").alias("first_file"),
        F.max("file_id").cast("bigint").alias("last_file"),
        (F.sum("sz") >= _C05_TARGET).alias("full_bin"))


# --------------------------------------------------------------------------
# c06: the production dedup funnel END TO END, one plan (VERDICT r05
# task 6). Exact dedup FIRST (hash groupBy — removes duplicate mass
# before any per-character work), then s19's LSH->verify near-dup over
# the SURVIVORS only, then s14's connected components, min-id
# canonicalization, the t03 quality gate, and the c02-style per-source
# census. This is the documented "production response to duplicate
# mass" (SCALING.md): pair volume is bounded because the corpus that
# reaches the shingle stage has no exact duplicates left, and
# quadratic work only ever happens inside LSH buckets of that reduced
# corpus. Composes lsh_verified_edges + connected_components verbatim
# — the pipeline is the same code paths the standalone queries gate.
# --------------------------------------------------------------------------
@register(
    "c06_production_dedup_e2e",
    oracle=f"""
    WITH RECURSIVE base AS MATERIALIZED (
      SELECT doc_id, source, lang, text, md5(text) AS xh,
             CAST({_SQL_NTOK} AS BIGINT) AS n_tok,
             {_QUALITY_SQL} AS quality
      FROM documents
    ),
    canon AS (SELECT xh, MIN(doc_id) AS cid FROM base GROUP BY xh),
    surv AS MATERIALIZED (
      SELECT b.doc_id, b.lang, b.text
      FROM base b JOIN canon c ON b.xh = c.xh AND b.doc_id = c.cid
    ),
    sh AS MATERIALIZED (
      SELECT DISTINCT doc_id, lang,
             substr(text, CAST(pos AS INT), 3) AS shingle
      FROM surv,
           UNNEST(generate_series(1, greatest(length(text) - 2, 0)))
             AS t(pos)
    ),
    h AS (SELECT doc_id, lang, {S.SHINGLE_HASH_SQL} AS h FROM sh),
    mh AS ({_minhash_wide_sql()}),
    bands AS ({_bands_wide_sql()}),
    {cand_sql()},
    {sz_sql()},
    {cand_common_sql()},
    {verified_sql(VERIFY_JACCARD)},
    {degree_cap_sql()},
    edges AS MATERIALIZED (SELECT d1, d2 FROM capped),
    und AS (SELECT d1 AS u, d2 AS v FROM edges
            UNION ALL SELECT d2, d1 FROM edges),
    reach(u, lbl) AS (
      SELECT doc_id, doc_id FROM surv
      UNION
      SELECT e.u, r.lbl FROM und e JOIN reach r ON r.u = e.v
    ),
    comp AS (SELECT u AS doc_id, MIN(lbl) AS component_id
             FROM reach GROUP BY u)
    SELECT b.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(comp.component_id) AS BIGINT) AS n_after_exact,
           CAST(COUNT(CASE WHEN b.doc_id = comp.component_id THEN 1 END)
                AS BIGINT) AS n_after_neardup,
           CAST(COUNT(CASE WHEN b.doc_id = comp.component_id
                            AND b.quality >= 0.5 THEN 1 END)
                AS BIGINT) AS n_final,
           CAST(COALESCE(SUM(CASE WHEN b.doc_id = comp.component_id
                                   AND b.quality >= 0.5
                                  THEN b.n_tok END), 0) AS BIGINT)
             AS tokens_final
    FROM base b LEFT JOIN comp ON b.doc_id = comp.doc_id
    GROUP BY b.source
    """,
    doc="Production dedup funnel end-to-end in ONE plan: exact dedup "
        "(md5 min-id) -> s19 LSH+verified-Jaccard near-dup over "
        "survivors -> connected components -> min-id canonical -> t03 "
        "quality gate -> per-source census (docs, exact survivors, "
        "near-dup canonicals, final docs, final token budget). The "
        "scale story: duplicate mass is removed by one hash shuffle "
        "BEFORE any shingle work, so the quadratic-in-bucket LSH "
        "stage sees only unique content.",
)
def c06_production_dedup_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_spread(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", "source", "lang", "text",
        T.content_hash(F.col("text")).alias("xh"),
        T.quality_score(F.col("text")).alias("quality"),
        T.token_count(F.col("text")).cast("bigint").alias("n_tok"))
    # Exact stage as ONE window over xh (the s14 idiom), not
    # groupBy+self-join: the join form re-derived `canon`'s subtree
    # from the parquet (documents scanned twice, md5 evaluated again
    # in the join-key null filter INSIDE the scan stage), and the
    # final census below re-scanned a third time. One scan + one
    # hash shuffle now carries the corpus through the whole funnel;
    # the checkpoint pins it for the survivor branch AND the census
    # (guide §2.4 / §8: decide and aggregate off one materialized
    # pass, never re-read the heavy payload).
    w = Window.partitionBy("xh")
    mem = (base.withColumn("cid", F.min("doc_id").over(w))
           .localCheckpoint(eager=False))  # lazy: the eager hashed-
    # sets checkpoint inside lsh_verified_edges materializes it first and
    # every later consumer (component seed, census join) reuses the
    # cache — sequential in practice (same rationale the r09 A/B
    # measured for the old surv checkpoint, 6.25 -> 6.45 s eager).
    surv = mem.filter(F.col("doc_id") == F.col("cid"))
    # Re-spread the survivors before the per-row-EXPENSIVE shingle
    # projection (the s14 lesson): AQE coalesces the window's
    # tiny-by-bytes shuffle output toward one partition, which would
    # single-thread the shingle scan stage. The component seed takes
    # the ids straight from `mem`: a second round-robin shuffle of them
    # would buy nothing.
    edges = lsh_verified_edges(
        surv.select("doc_id", "lang", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    ).select("d1", "d2")
    cc = connected_components(surv.select("doc_id"), edges,
                              "doc_id", "d1", "d2")
    j = mem.join(cc, "doc_id", "left")
    is_nd = F.col("doc_id") == F.col("component_id")
    is_final = is_nd & (F.col("quality") >= 0.5)
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count(F.col("component_id")).cast("bigint")
        .alias("n_after_exact"),
        F.count(F.when(is_nd, 1)).cast("bigint").alias("n_after_neardup"),
        F.count(F.when(is_final, 1)).cast("bigint").alias("n_final"),
        F.coalesce(F.sum(F.when(is_final, F.col("n_tok"))), F.lit(0))
        .cast("bigint").alias("tokens_final"))
