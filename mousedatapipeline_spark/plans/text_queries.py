"""Text-analysis query catalog over the ``documents`` table: token
statistics, language ID, quality scoring, and fingerprinting — the
text-curation layer of a training-data pipeline (SURVEY.md §2
beyond-reference mandate), each with a DuckDB oracle.

All expressions are integer/exact arithmetic or `stable_round`-ed
doubles, so Spark and DuckDB agree bit-for-bit (see
functions/rounding.py and plans/catalog.py docstrings).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mousedatapipeline_spark.functions.rounding import (
    stable_round,
    stable_round_sql,
)
from mousedatapipeline_spark.operators import text as T
from mousedatapipeline_spark.operators.aggregates import dsum, dsum_sql
from mousedatapipeline_spark.plans.catalog import register
from mousedatapipeline_spark.tables import (
    fits_broadcast,
    load,
    load_spread,
)

# ---- SQL twins of operators/text.py (kept literally in sync) -------------

_SQL_TOKENS = "list_filter(string_split(lower(text), ' '), t -> t <> '')"


def _sql_marker_count(markers: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{m}'" for m in markers)
    return (f"len(list_filter({_SQL_TOKENS}, "
            f"t -> list_contains([{lst}], t)))")


_SQL_CJK = f"len(regexp_extract_all(text, '{T.CJK_REGEX_DUCK}'))"
_SQL_NTOK = f"len({_SQL_TOKENS})"
_SQL_TOKLEN_SUM = (f"list_aggregate(list_transform({_SQL_TOKENS}, "
                   f"t -> CAST(length(t) AS BIGINT)), 'sum')")
_SQL_TOKEN_HASHES = (
    f"list_transform({_SQL_TOKENS}, t -> "
    f"(ascii(substr(t, 1, 1)) * 8191 + ascii(substr(t, -1, 1)) * 131 "
    f"+ length(t)) % 2147483647)")


@register(
    "t01_token_stats",
    oracle=f"""
    SELECT doc_id, lang, source,
           CAST(length(text) AS BIGINT) AS n_chars_computed,
           CAST({_SQL_NTOK} AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(lower(text),
                '{T.TOKEN_REGEX}')) AS BIGINT) AS n_bpe_tokens,
           {stable_round_sql(
               f"CASE WHEN {_SQL_NTOK} > 0 THEN "
               f"CAST({_SQL_TOKLEN_SUM} AS DOUBLE) / CAST({_SQL_NTOK} AS DOUBLE) "
               f"ELSE 0.0 END")} AS mean_token_len
    FROM documents
    """,
    doc="Token counting: whitespace tokens + BPE-ish regex tokens + mean "
        "token length. Narrow projection, no shuffle, codegen'd.",
)
def t01_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id", "lang", "source",
        F.length("text").cast("bigint").alias("n_chars_computed"),
        T.token_count(F.col("text")).alias("n_tokens"),
        T.regex_token_count(F.col("text")).alias("n_bpe_tokens"),
        stable_round(T.mean_token_length(F.col("text")))
        .alias("mean_token_len"),
    )


@register(
    "t02_language_id",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {_sql_marker_count(T.LANG_MARKERS['en'])} AS en_score,
             {_sql_marker_count(T.LANG_MARKERS['de'])} AS de_score,
             {_sql_marker_count(T.LANG_MARKERS['fr'])} AS fr_score,
             {_sql_marker_count(T.LANG_MARKERS['es'])} AS es_score,
             {_SQL_CJK} AS cjk_chars
      FROM documents
    )
    SELECT doc_id, lang,
           CAST(en_score AS BIGINT) AS en_score,
           CAST(de_score AS BIGINT) AS de_score,
           CAST(fr_score AS BIGINT) AS fr_score,
           CAST(es_score AS BIGINT) AS es_score,
           CAST(cjk_chars AS BIGINT) AS cjk_chars,
           CASE WHEN cjk_chars > 0 THEN 'zh'
                WHEN en_score >= de_score AND en_score >= fr_score
                     AND en_score >= es_score THEN 'en'
                WHEN de_score >= fr_score AND de_score >= es_score THEN 'de'
                WHEN fr_score >= es_score THEN 'fr'
                ELSE 'es' END AS predicted_lang,
           CAST(CASE WHEN cjk_chars > 0 THEN 'zh'
                WHEN en_score >= de_score AND en_score >= fr_score
                     AND en_score >= es_score THEN 'en'
                WHEN de_score >= fr_score AND de_score >= es_score THEN 'de'
                WHEN fr_score >= es_score THEN 'fr'
                ELSE 'es' END = lang AS INT) AS correct
    FROM scored
    """,
    doc="Language ID by stopword voting + CJK detection, with a fixed "
        "tie-break order; compared against the labeled lang column.",
)
def t02_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # Tokenize once, score once; the prediction reuses the score columns
    # instead of re-deriving them (halves the expression tree — the
    # token split/filter is the dominant cost of this projection).
    toks = T.tokens(F.col("text"))
    scored = d.select(
        "doc_id", "lang",
        T.marker_count(toks, T.LANG_MARKERS["en"]).alias("en_score"),
        T.marker_count(toks, T.LANG_MARKERS["de"]).alias("de_score"),
        T.marker_count(toks, T.LANG_MARKERS["fr"]).alias("fr_score"),
        T.marker_count(toks, T.LANG_MARKERS["es"]).alias("es_score"),
        T.cjk_count(F.col("text")).alias("cjk_chars"),
    )
    en, de = F.col("en_score"), F.col("de_score")
    fr, es = F.col("fr_score"), F.col("es_score")
    pred = (
        F.when(F.col("cjk_chars") > 0, F.lit("zh"))
        .when((en >= de) & (en >= fr) & (en >= es), F.lit("en"))
        .when((de >= fr) & (de >= es), F.lit("de"))
        .when(fr >= es, F.lit("fr"))
        .otherwise(F.lit("es")))
    return (scored.withColumn("predicted_lang", pred)
            .withColumn("correct",
                        (F.col("predicted_lang") == F.col("lang"))
                        .cast("int")))


@register(
    "t03_quality_score",
    oracle=f"""
    WITH f AS (
      SELECT doc_id, lang,
             CAST({_SQL_NTOK} AS DOUBLE) AS n_tok,
             CASE WHEN {_SQL_NTOK} > 0 THEN
               CAST({_sql_marker_count(T.EN_STOPWORDS)} AS DOUBLE)
               / CAST({_SQL_NTOK} AS DOUBLE) ELSE 0.0 END AS sw_ratio,
             CASE WHEN length(text) > 0 THEN
               CAST(len(regexp_extract_all(lower(text), '[a-z ]')) AS DOUBLE)
               / CAST(length(text) AS DOUBLE) ELSE 0.0 END AS alpha_ratio
      FROM documents
    )
    SELECT doc_id, lang,
           {stable_round_sql('sw_ratio')} AS stopword_ratio,
           {stable_round_sql('alpha_ratio')} AS alpha_ratio,
           {stable_round_sql(
               "LEAST(n_tok / 50.0, 1.0) * 0.4 "
               "+ LEAST(sw_ratio * 4.0, 1.0) * 0.3 + alpha_ratio * 0.3")}
             AS quality,
           CASE WHEN LEAST(n_tok / 50.0, 1.0) * 0.4
                     + LEAST(sw_ratio * 4.0, 1.0) * 0.3
                     + alpha_ratio * 0.3 >= 0.5
                THEN 'keep' ELSE 'drop' END AS verdict
    FROM f
    """,
    doc="Gopher-style quality heuristic (length, stopword density, "
        "alphabetic ratio) with a keep/drop verdict.",
)
def t03_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    q = T.quality_score(F.col("text"))
    return d.select(
        "doc_id", "lang",
        stable_round(T.stopword_ratio(F.col("text"))).alias("stopword_ratio"),
        stable_round(T.alpha_ratio(F.col("text"))).alias("alpha_ratio"),
        stable_round(q).alias("quality"),
        F.when(q >= 0.5, F.lit("keep")).otherwise(F.lit("drop"))
        .alias("verdict"),
    )


@register(
    "t04_fingerprint",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, text, {_SQL_TOKEN_HASHES} AS th FROM documents
    )
    SELECT doc_id,
           md5(text) AS content_hash,
           CAST(CASE WHEN len(th) > 0
                THEN list_reduce(th, (acc, x) -> (acc * 31 + x) % 2147483647)
                ELSE 0 END AS BIGINT) AS rolling_fp
    FROM h
    """,
    doc="Document fingerprinting: exact md5 identity hash + order-"
        "sensitive rolling token hash (modular left fold).",
)
def t04_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        T.content_hash(F.col("text")).alias("content_hash"),
        T.rolling_fingerprint(F.col("text")).alias("rolling_fp"),
    )


@register(
    "t05_tfidf",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, t AS term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM documents, UNNEST({_SQL_TOKENS}) AS u(t)
      GROUP BY 1, 2
    ),
    df AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df
      FROM tok GROUP BY term
    ),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
    scored AS (
      SELECT tok.doc_id, tok.term, tok.tf, df.df,
             CAST(tok.tf AS DOUBLE)
               * LN((SELECT n_docs FROM n) / CAST(df.df AS DOUBLE)) AS tfidf
      FROM tok JOIN df ON tok.term = df.term
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY doc_id
               ORDER BY {stable_round_sql('tfidf')} DESC, term) AS rn
      FROM scored
    )
    SELECT doc_id, term, tf, df, CAST(rn AS INT) AS rank,
           {stable_round_sql('tfidf')} AS tfidf
    FROM ranked WHERE rn <= 3
    """,
    doc="TF-IDF: per-doc term frequencies x corpus inverse document "
        "frequency, top-3 terms per document. Two shuffles (doc-term "
        "counts, term df) + a broadcast of the tiny df table.",
)
def t05_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    n_docs = float(d.count())  # driver-side scalar: one tiny job
    tok = (
        d.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf")))
    # Materialized + size-gated hint (r11, VERDICT r10 #4): df_tbl is
    # the corpus VOCABULARY — unbounded at open-vocabulary scale. Hint
    # only while the observed size fits (local plan unchanged); past
    # that AQE plans the join from runtime stats.
    df_tbl = (tok.groupBy("term")
              .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
              .localCheckpoint(eager=True))
    hint = F.broadcast if fits_broadcast(df_tbl) else (lambda f: f)
    scored = (
        tok.join(hint(df_tbl), "term")
        .withColumn("tfidf",
                    F.col("tf").cast("double")
                    * F.log(F.lit(n_docs) / F.col("df").cast("double"))))
    w = Window.partitionBy("doc_id").orderBy(
        stable_round(F.col("tfidf")).desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tf", "df", "rank",
                stable_round(F.col("tfidf")).alias("tfidf"))
    )


@register(
    "t06_top_terms",
    oracle="""
    WITH tok AS (
      SELECT lang,
             UNNEST(list_distinct(list_filter(
                 string_split(lower(text), ' '), x -> x != ''))) AS token
      FROM documents
    ),
    cnt AS (SELECT lang, token, COUNT(*) AS df FROM tok GROUP BY 1, 2)
    SELECT lang, token, CAST(df AS BIGINT) AS doc_freq, rk FROM (
      SELECT lang, token, df,
             CAST(row_number() OVER (PARTITION BY lang
                                     ORDER BY df DESC, token) AS INT) AS rk
      FROM cnt
    ) WHERE rk <= 10
    """,
    doc="Heavy hitters: top-10 tokens per language by document "
        "frequency. The token explode + count shuffle reduces to the "
        "distinct vocabulary per language BEFORE the top-k window, so "
        "the window input is vocab-sized, not corpus-sized; ties break "
        "on the token for cross-engine determinism.",
)
def t06_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    d = load(spark, sf_dir, "documents").select("lang", "text")
    tok = d.select(
        "lang",
        F.explode(F.array_distinct(T.tokens(F.col("text")))).alias("token"))
    cnt = tok.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("lang").orderBy(F.col("df").desc(), "token")
    return (
        cnt.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 10)
        .select("lang", "token", F.col("df").cast("bigint").alias("doc_freq"),
                "rk")
    )


# --------------------------------------------------------------------------
# t09: repetition signals (Gopher-style). Everything is a row-local
# array expression over staged token/gram columns — zero shuffles.
# --------------------------------------------------------------------------
_SQL_BIGRAMS = ("list_transform(range(1, greatest(len(toks), 1)), "
                "i -> toks[i] || ' ' || toks[i+1])")
_SQL_TRIGRAMS = ("list_transform(range(1, greatest(len(toks) - 1, 1)), "
                 "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])")


def _sql_top_frac(g: str) -> str:
    return (f"CASE WHEN len({g}) > 0 THEN "
            f"CAST(list_aggregate(list_transform(list_distinct({g}), "
            f"x -> len(list_filter({g}, y -> y = x))), 'max') AS DOUBLE) "
            f"/ CAST(len({g}) AS DOUBLE) ELSE 0.0 END")


@register(
    "t09_repetition_signals",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, {_SQL_TOKENS} AS toks FROM documents
    ),
    grams AS (
      SELECT doc_id, lang, toks,
             {_SQL_BIGRAMS} AS g2, {_SQL_TRIGRAMS} AS g3
      FROM tok
    )
    SELECT doc_id, lang,
           CAST(len(toks) AS BIGINT) AS n_tok,
           {stable_round_sql(
               "CASE WHEN len(toks) > 0 THEN "
               "1.0 - CAST(len(list_distinct(toks)) AS DOUBLE)"
               " / CAST(len(toks) AS DOUBLE) ELSE 0.0 END")}
             AS dup_word_frac,
           {stable_round_sql(_sql_top_frac('g2'))} AS top_bigram_frac,
           {stable_round_sql(_sql_top_frac('g3'))} AS top_trigram_frac
    FROM grams
    """,
    doc="Gopher-style repetition quality signals (Rae et al. 2021): "
        "duplicate-word fraction and top-bigram/trigram fractions, "
        "all row-local array expressions over staged token/gram "
        "columns — zero shuffles at any corpus size.",
)
def t09_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    # plain load, NOT load_spread: this query is the zero-shuffle
    # showcase (row-local array expressions, single scan stage,
    # plan-asserted in test_plan_shapes) — a repartition would trade
    # that contract for local parallelism.
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", "lang", T.tokens(F.col("text")).alias("toks"))
    grams = tok.select(
        "doc_id", "lang", "toks",
        T.ngrams_from_tokens(F.col("toks"), 2).alias("g2"),
        T.ngrams_from_tokens(F.col("toks"), 3).alias("g3"))
    return grams.select(
        "doc_id", "lang",
        F.size("toks").cast("bigint").alias("n_tok"),
        stable_round(T.dup_fraction(F.col("toks"))).alias("dup_word_frac"),
        stable_round(T.top_freq_fraction(F.col("g2")))
        .alias("top_bigram_frac"),
        stable_round(T.top_freq_fraction(F.col("g3")))
        .alias("top_trigram_frac"))


# --------------------------------------------------------------------------
# t13: the corpus dashboard — per-source rollup of the quality and
# length signals (what a data curator reads before picking mixture
# weights). Pure composition of t01/t03's per-doc expressions into one
# groupBy(source): signal extraction is scan-stage, the aggregate
# output is sources-sized regardless of corpus size.
# --------------------------------------------------------------------------
@register(
    "t13_source_dashboard",
    oracle=f"""
    WITH f AS (
      SELECT source,
             CAST({_SQL_NTOK} AS DOUBLE) AS n_tok,
             CASE WHEN {_SQL_NTOK} > 0 THEN
               CAST({_sql_marker_count(T.EN_STOPWORDS)} AS DOUBLE)
               / CAST({_SQL_NTOK} AS DOUBLE) ELSE 0.0 END AS sw_ratio,
             CASE WHEN length(text) > 0 THEN
               CAST(len(regexp_extract_all(lower(text), '[a-z ]')) AS DOUBLE)
               / CAST(length(text) AS DOUBLE) ELSE 0.0 END AS alpha_ratio
      FROM documents
    ),
    q AS (
      SELECT source, n_tok,
             LEAST(n_tok / 50.0, 1.0) * 0.4
               + LEAST(sw_ratio * 4.0, 1.0) * 0.3
               + alpha_ratio * 0.3 AS quality
      FROM f
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           {stable_round_sql(
               dsum_sql("n_tok") + " / CAST(COUNT(*) AS DOUBLE)")}
             AS mean_tokens,
           {stable_round_sql(
               dsum_sql("quality") + " / CAST(COUNT(*) AS DOUBLE)")}
             AS mean_quality,
           CAST(COUNT(CASE WHEN quality >= 0.5 THEN 1 END) AS BIGINT)
             AS n_keep
    FROM q GROUP BY source
    """,
    doc="Corpus curation dashboard: per-source doc count, mean token "
        "length, mean quality score and keep count — the t01/t03 "
        "signals rolled up to the mixture-weight decision surface. "
        "One shuffle on source; signals evaluate in the scan stage.",
)
def t13_source_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    q = T.quality_score(F.col("text"))
    f = d.select(
        "source",
        T.token_count(F.col("text")).cast("double").alias("n_tok"),
        q.alias("quality"))
    n = F.count(F.lit(1))
    return f.groupBy("source").agg(
        n.cast("bigint").alias("n_docs"),
        stable_round(dsum("n_tok") / n.cast("double"))
        .alias("mean_tokens"),
        stable_round(dsum("quality") / n.cast("double"))
        .alias("mean_quality"),
        F.count(F.when(F.col("quality") >= 0.5, 1)).cast("bigint")
        .alias("n_keep"))


@register(
    "t14_unigram_surprisal",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, t AS term
      FROM documents, UNNEST({_SQL_TOKENS}) AS u(t)
    ),
    freq AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY term
    ),
    tot AS (SELECT SUM(cnt) AS total FROM freq),
    s AS (
      SELECT tok.doc_id,
             LN(CAST((SELECT total FROM tot) AS DOUBLE))
               - LN(CAST(freq.cnt AS DOUBLE)) AS surp
      FROM tok JOIN freq ON tok.term = freq.term
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           {stable_round_sql(
               dsum_sql("surp") + " / CAST(COUNT(*) AS DOUBLE)")}
             AS mean_surprisal
    FROM s GROUP BY doc_id
    """,
    doc="Unigram-LM surprisal quality signal (CCNet-style proxy): each "
        "token scores ln(total) - ln(count(term)) against the corpus "
        "unigram model, averaged per document — high mean surprisal "
        "flags gibberish/rare-token docs, low flags boilerplate. The "
        "frequency table is one groupBy re-broadcast to the token "
        "stream (same shape as t05's df table); per-doc mean uses the "
        "decimal-accumulated dsum so partition order cannot move the "
        "float sum.",
)
def t14_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("term"))
    # Materialized + size-gated hint (r11, VERDICT r10 #4): freq is the
    # corpus VOCABULARY — unbounded at open-vocabulary scale, where a
    # forced broadcast hits the 8 GB cap. Local plan unchanged while
    # the observed size fits; total (1 row) stays forced.
    freq = (tok.groupBy("term")
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
            .localCheckpoint(eager=True))
    hint = F.broadcast if fits_broadcast(freq) else (lambda f: f)
    total = freq.agg(F.sum("cnt").alias("total"))
    s = (tok.join(hint(freq), "term")
         .join(F.broadcast(total))
         .select("doc_id",
                 (F.log(F.col("total").cast("double"))
                  - F.log(F.col("cnt").cast("double"))).alias("surp")))
    n = F.count(F.lit(1))
    return s.groupBy("doc_id").agg(
        n.cast("bigint").alias("n_tokens"),
        stable_round(dsum("surp") / n.cast("double"))
        .alias("mean_surprisal"))


@register(
    "t15_bigram_surprisal",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents
    ),
    bg AS (
      SELECT doc_id,
             toks[CAST(i AS INT)] AS w1,
             toks[CAST(i AS INT) + 1] AS w2
      FROM tk,
           UNNEST(generate_series(1, greatest(len(toks) - 1, 0))) AS t(i)
    ),
    uni AS (
      SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM bg GROUP BY w1
    ),
    pair AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM bg GROUP BY w1, w2
    ),
    s AS (
      SELECT bg.doc_id,
             LN(CAST(uni.c1 AS DOUBLE)) - LN(CAST(pair.c12 AS DOUBLE)) AS surp
      FROM bg JOIN pair ON bg.w1 = pair.w1 AND bg.w2 = pair.w2
              JOIN uni ON bg.w1 = uni.w1
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           {stable_round_sql(
               dsum_sql("surp") + " / CAST(COUNT(*) AS DOUBLE)")}
             AS mean_surprisal
    FROM s GROUP BY doc_id
    """,
    doc="Bigram-LM cross-entropy quality signal (the CCNet 'perplexity "
        "filter' shape one order up from t14): each bigram scores "
        "-ln P(w2|w1) = ln c(w1,.) - ln c(w1,w2) against the corpus "
        "bigram model; the per-doc mean flags incoherent word salad "
        "that unigram frequency cannot (every word common, no pair "
        "common). Bigrams are built row-locally (ngrams_from_tokens — "
        "zero shuffle); the LM tables are two groupBys broadcast back "
        "to the gram stream while they fit (the t05/t14 pattern; at "
        "open-vocabulary scale the broadcast degrades to a shuffle "
        "join on w1,w2 — same plan minus the hint). Decimal-summed "
        "mean, so partition order cannot move the float.",
)
def t15_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_spread(spark, sf_dir, "documents")
    # Bigrams as (w1, w2) STRUCTS straight off the token array (r10):
    # the previous form concat_ws'd each pair into a "w1 w2" string
    # and immediately split_part'd it back into two columns — a build
    # + parse round-trip per bigram instance deleted outright. tokens
    # are whitespace-split, so (tokens[i], tokens[i+1]) is exactly the
    # split of the joined gram. The token array is staged as a real
    # column (multiply-referenced — CollapseProject keeps it staged).
    tk = d.select("doc_id", T.tokens(F.col("text")).alias("tk"))
    npairs = F.greatest(F.size("tk") - 1, F.lit(0))
    bg = (tk.select(
        "doc_id",
        F.explode(F.zip_with(
            F.slice(F.col("tk"), 1, npairs),
            F.slice(F.col("tk"), 2, npairs),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2"))))
        .alias("g"))
        .select("doc_id", "g.w1", "g.w2")
        .localCheckpoint(eager=False))
    # Both LM tables from ONE instance-level aggregation (r10): the
    # unigram LM is the pair LM's marginal (c1 = sum of c12 over w2 —
    # definitionally equal counts), so the second full pass + second
    # |instances|-row shuffle over the bigram stream collapses to a
    # |distinct pairs|-row rollup. The pair table is checkpointed
    # EAGERLY (r11): it feeds the marginal AND the probe join, and the
    # materialized size gates the broadcast hints below.
    pair = (bg.groupBy("w1", "w2")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c12"))
            .localCheckpoint(eager=True))
    # Size-gated hints (VERDICT r10 #4): pair's cardinality is the
    # corpus's DISTINCT BIGRAMS — unbounded at 100 TB, where a forced
    # F.broadcast would run straight into the 8 GB broadcast cap /
    # driver OOM. Hint only while the observed size fits (local plan
    # unchanged); past that the join degrades to AQE's runtime choice,
    # exactly the open-vocabulary story this query's doc promises.
    # uni is pair's marginal (never larger), so one gate serves both.
    hint = F.broadcast if fits_broadcast(pair) else (lambda f: f)
    uni = pair.groupBy("w1").agg(
        F.sum("c12").cast("bigint").alias("c1"))
    s = (bg.join(hint(pair), ["w1", "w2"])
         .join(hint(uni), "w1")
         .select("doc_id",
                 (F.log(F.col("c1").cast("double"))
                  - F.log(F.col("c12").cast("double"))).alias("surp")))
    n = F.count(F.lit(1))
    return s.groupBy("doc_id").agg(
        n.cast("bigint").alias("n_bigrams"),
        stable_round(dsum("surp") / n.cast("double"))
        .alias("mean_surprisal"))


_CLS_MOD = 2147483647
# Per-token classifier weight: hash the token into one of 64 feature
# buckets, then derive a pseudo-weight in [-1, 1] from the bucket. The
# integer chain is exact in both engines; only /1000.0 makes a double,
# identically on both sides.
_CLS_TOKEN_HASH = ("((ascii(substr({t}, 1, 1)) * 8191 "
                   " + ascii(substr({t}, length({t}), 1)) * 131 "
                   " + length({t})) % 2147483647) % 64")
_CLS_WEIGHT = ("(CAST((({h}) * 2654435761 + 40503) % 2147483647 % 2001 "
               "AS DOUBLE) / 1000.0 - 1.0)")


@register(
    "t17_classifier_filter",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents
    ),
    sc AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
             list_reduce(list_prepend(0.0,
               list_transform(toks, t -> {_CLS_WEIGHT.format(
                   h=_CLS_TOKEN_HASH.format(t='t'))})),
               (acc, w) -> acc + w) AS logit
      FROM tk
    )
    SELECT doc_id, n_tokens,
           {stable_round_sql('logit')} AS logit,
           {stable_round_sql('1.0 / (1.0 + exp(-logit))')} AS score,
           CAST(logit > 0 AS INT) AS keep
    FROM sc
    """,
    doc="Hashed linear quality classifier (the fasttext-filter shape "
        "used by CCNet/RefinedWeb keep/drop gates): tokens hash into "
        "64 feature buckets, each bucket carries a deterministic "
        "pseudo-weight, and the document logit is one row-local left "
        "fold — classifier INFERENCE as a scan-stage column "
        "expression, zero shuffles, no UDF. Identical fold order in "
        "both engines (list_reduce vs F.aggregate) makes even the raw "
        "float logit bit-identical; a real model would load its "
        "weight table as a broadcast map or array literal, same plan.",
)
def t17_classifier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")

    def weight(t):
        h = ((F.ascii(F.substring(t, 1, 1)).cast("bigint") * 8191
              + F.ascii(F.substring(t, F.length(t), F.lit(1)))
              .cast("bigint") * 131
              + F.length(t)) % _CLS_MOD) % 64
        return ((h * F.lit(2_654_435_761) + F.lit(40_503))
                % _CLS_MOD % 2001).cast("double") / F.lit(1000.0) \
            - F.lit(1.0)

    tk = d.select("doc_id", T.tokens(F.col("text")).alias("toks"))
    sc = tk.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        F.aggregate("toks", F.lit(0.0),
                    lambda acc, t: acc + weight(t)).alias("logit_raw"))
    return sc.select(
        "doc_id", "n_tokens",
        stable_round(F.col("logit_raw")).alias("logit"),
        stable_round(F.lit(1.0)
                     / (F.lit(1.0) + F.exp(-F.col("logit_raw"))))
        .alias("score"),
        (F.col("logit_raw") > 0).cast("int").alias("keep"))


_CHUNK = 64    # tokens per retrieval chunk
_STRIDE = 48   # 16-token overlap between neighbors


@register(
    "t19_rag_chunking",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents
    ),
    ch AS (
      SELECT doc_id,
             CAST(i AS BIGINT) AS chunk_idx,
             array_to_string(
               toks[CAST(i AS INT) * {_STRIDE} + 1 :
                    CAST(i AS INT) * {_STRIDE} + {_CHUNK}], ' ') AS chunk,
             CAST(i AS BIGINT) * {_STRIDE} + 1 AS tok_start,
             LEAST(CAST(i AS BIGINT) * {_STRIDE} + {_CHUNK},
                   len(toks)) AS tok_end
      FROM tk,
           UNNEST(generate_series(0,
             CAST(greatest(ceil((len(toks) - {_CHUNK})
                                / CAST({_STRIDE} AS DOUBLE)), 0) AS BIGINT)))
           AS u(i)
      WHERE len(toks) > 0
    )
    SELECT doc_id, chunk_idx, tok_start, tok_end,
           CAST(tok_end - tok_start + 1 AS BIGINT) AS n_tokens,
           md5(chunk) AS chunk_hash
    FROM ch
    """,
    doc="RAG retrieval chunking: overlapping 64-token windows with "
        "stride 48 (16-token overlap so no answer span straddles a "
        "boundary unseen), with per-chunk token offsets and a content "
        "hash — the unit a vector index ingests. Chunk boundaries are "
        "row-local array arithmetic (zero shuffles at any corpus "
        "size); every doc yields ceil((len-64)/48)+1 chunks, short "
        "docs one chunk. The hash (not the text) is the output, so "
        "chunk payloads never leave the scan stage here.",
)
def t19_rag_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = T.tokens(F.col("text"))
    staged = d.select("doc_id", toks.alias("toks")) \
        .filter(F.size("toks") > 0)
    n_chunks = F.greatest(
        F.ceil((F.size("toks") - F.lit(_CHUNK))
               / F.lit(float(_STRIDE))).cast("bigint"),
        F.lit(0).cast("bigint")) + 1
    chunks = F.transform(
        F.sequence(F.lit(0).cast("bigint"), n_chunks - 1),
        lambda i: F.struct(
            i.alias("chunk_idx"),
            F.concat_ws(" ", F.slice("toks",
                                     (i * _STRIDE + 1).cast("int"),
                                     _CHUNK)).alias("chunk"),
            (i * _STRIDE + 1).alias("tok_start"),
            F.least(i * _STRIDE + _CHUNK,
                    F.size("toks").cast("bigint")).alias("tok_end")))
    ex = staged.select("doc_id", F.explode(chunks).alias("c"))
    return ex.select(
        "doc_id",
        F.col("c.chunk_idx").cast("bigint").alias("chunk_idx"),
        F.col("c.tok_start").cast("bigint").alias("tok_start"),
        F.col("c.tok_end").cast("bigint").alias("tok_end"),
        (F.col("c.tok_end") - F.col("c.tok_start") + 1).cast("bigint")
        .alias("n_tokens"),
        F.md5(F.col("c.chunk")).alias("chunk_hash"))


@register(
    "t23_langid_confusion",
    oracle=f"""
    WITH scored AS (
      SELECT lang,
             {_sql_marker_count(T.LANG_MARKERS['en'])} AS en_score,
             {_sql_marker_count(T.LANG_MARKERS['de'])} AS de_score,
             {_sql_marker_count(T.LANG_MARKERS['fr'])} AS fr_score,
             {_sql_marker_count(T.LANG_MARKERS['es'])} AS es_score,
             {_SQL_CJK} AS cjk_chars
      FROM documents
    ),
    pred AS (
      SELECT lang,
             CASE WHEN cjk_chars > 0 THEN 'zh'
                  WHEN en_score >= de_score AND en_score >= fr_score
                       AND en_score >= es_score THEN 'en'
                  WHEN de_score >= fr_score AND de_score >= es_score
                       THEN 'de'
                  WHEN fr_score >= es_score THEN 'fr'
                  ELSE 'es' END AS predicted
      FROM scored
    )
    SELECT lang, predicted,
           CAST(COUNT(*) AS BIGINT) AS n,
           {stable_round_sql(
               'CAST(COUNT(*) AS DOUBLE) / CAST(SUM(COUNT(*)) '
               'OVER (PARTITION BY lang) AS DOUBLE)')} AS row_share
    FROM pred GROUP BY lang, predicted
    """,
    doc="Language-ID confusion matrix: the t02 classifier's predicted "
        "label against the ground-truth lang column, with per-true-"
        "language row shares (recall on the diagonal) — the accuracy "
        "evidence behind using t02's prediction as a routing signal "
        "(the s25/s26/s30 measure-your-operator pattern applied to "
        "text). One grouped scan; the normalizing window runs on the "
        "|langs|^2 matrix.",
)
def t23_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load(spark, sf_dir, "documents")
    toks = T.tokens(F.col("text"))
    scored = d.select(
        "lang",
        T.marker_count(toks, T.LANG_MARKERS["en"]).alias("en_score"),
        T.marker_count(toks, T.LANG_MARKERS["de"]).alias("de_score"),
        T.marker_count(toks, T.LANG_MARKERS["fr"]).alias("fr_score"),
        T.marker_count(toks, T.LANG_MARKERS["es"]).alias("es_score"),
        T.cjk_count(F.col("text")).alias("cjk_chars"))
    en, de = F.col("en_score"), F.col("de_score")
    fr, es = F.col("fr_score"), F.col("es_score")
    pred = (F.when(F.col("cjk_chars") > 0, F.lit("zh"))
            .when((en >= de) & (en >= fr) & (en >= es), F.lit("en"))
            .when((de >= fr) & (de >= es), F.lit("de"))
            .when(fr >= es, F.lit("fr"))
            .otherwise(F.lit("es")))
    m = (scored.select("lang", pred.alias("predicted"))
         .groupBy("lang", "predicted")
         .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    w = W.partitionBy("lang")
    return m.select(
        "lang", "predicted", "n",
        stable_round(F.col("n").cast("double")
                     / F.sum("n").over(w).cast("double"))
        .alias("row_share"))


@register(
    "t24_text_normalization",
    oracle=r"""
    WITH n AS (
      SELECT doc_id, text,
             trim(regexp_replace(
               regexp_replace(lower(text), '[\t\n\r\x0b\x0c ]+', ' ', 'g'),
               '[^ -~]', '', 'g')) AS norm
      FROM documents
    )
    SELECT doc_id,
           md5(norm) AS norm_hash,
           CAST(length(text) - length(norm) AS BIGINT) AS n_removed_chars,
           CAST(norm <> text AS INT) AS changed
    FROM n
    """,
    doc="Text normalization (the canonicalization stage every dedup "
        "hash depends on): lowercase, collapse all whitespace runs to "
        "single spaces, strip non-printable/non-ASCII bytes, trim — "
        "as a pure regexp_replace chain in the Java-regex ∩ RE2 "
        "subset (the t07 pattern discipline), so both engines rewrite "
        "identical spans. Output is the normalized-content hash plus "
        "change accounting; zero shuffles, whole-stage codegen.",
)
def t24_text_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(F.col("text")),
                         "[\\t\\n\\r\\x0b\\x0c ]+", " "),
        "[^ -~]", ""))
    n = d.select("doc_id", "text", norm.alias("norm"))
    return n.select(
        "doc_id",
        F.md5("norm").alias("norm_hash"),
        (F.length("text") - F.length("norm")).cast("bigint")
        .alias("n_removed_chars"),
        (F.col("norm") != F.col("text")).cast("int").alias("changed"))


@register(
    "t25_token_entropy",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents
    ),
    e AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
             CASE WHEN len(toks) > 0 THEN
               -list_reduce(list_prepend(0.0,
                 list_transform(list_distinct(toks), t ->
                   (CAST(len(list_filter(toks, x -> x = t)) AS DOUBLE)
                    / CAST(len(toks) AS DOUBLE))
                   * LN(CAST(len(list_filter(toks, x -> x = t)) AS DOUBLE)
                        / CAST(len(toks) AS DOUBLE)))),
                 (a, b) -> a + b)
             ELSE 0.0 END AS h
      FROM tk
    )
    SELECT doc_id, n_tokens, n_distinct,
           {stable_round_sql('h')} AS entropy,
           {stable_round_sql(
               'CASE WHEN n_distinct > 1 THEN '
               'h / LN(CAST(n_distinct AS DOUBLE)) ELSE 0.0 END')}
             AS norm_entropy
    FROM e
    """,
    doc="Token-distribution entropy quality signal: per document, "
        "Shannon entropy of the token frequency distribution and its "
        "normalization by ln(vocab) — near-0 flags degenerate "
        "repetition (one token dominating), near-1 flags maximally "
        "flat text; complements t09's repetition ratios with an "
        "information measure. Entirely row-local (distinct-token "
        "fold over the token array, O(distinct x len) per row, zero "
        "shuffles); identical left-fold order both engines makes the "
        "raw float entropy bit-identical before rounding.",
)
def t25_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = T.tokens(F.col("text"))
    staged = d.select("doc_id", toks.alias("toks"))
    n = F.size("toks").cast("bigint")
    nd = F.size(F.array_distinct("toks")).cast("bigint")

    def term(t):
        p = (F.size(F.filter("toks", lambda x: x == t)).cast("double")
             / F.size("toks").cast("double"))
        return p * F.log(p)

    h = F.when(
        F.size("toks") > 0,
        -F.aggregate(F.array_distinct("toks"), F.lit(0.0),
                     lambda acc, t: acc + term(t))
    ).otherwise(F.lit(0.0))
    e = staged.select("doc_id", n.alias("n_tokens"),
                      nd.alias("n_distinct"), h.alias("h"))
    return e.select(
        "doc_id", "n_tokens", "n_distinct",
        stable_round(F.col("h")).alias("entropy"),
        stable_round(F.when(F.col("n_distinct") > 1,
                            F.col("h")
                            / F.log(F.col("n_distinct").cast("double")))
                     .otherwise(F.lit(0.0))).alias("norm_entropy"))


MERGE_TOP = 20  # merge candidates emitted per BPE statistics round


@register(
    "t27_bpe_merge_stats",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents),
    pr AS (
      SELECT t[i] || ' ' || t[i + 1] AS pair
      FROM tk, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
    ),
    c AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM pr GROUP BY pair)
    SELECT pair, cnt, rank FROM (
      SELECT pair, cnt,
             CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS BIGINT)
               AS rank
      FROM c
    ) WHERE rank <= {MERGE_TOP}
    """,
    doc="BPE-style merge statistics — one round of the pair-counting "
        "loop every tokenizer-training run iterates: adjacent token "
        "pairs as a row-local array expression (no self-join on "
        "position), one corpus groupBy for pair frequencies, and the "
        "top-20 merge candidates ranked (cnt desc, pair) off the "
        "vocab-sized aggregate — the window never sees the corpus, "
        "same shape as t12. At 100 TB the candidate table is the only "
        "global state a distributed BPE trainer keeps per round.",
)
def t27_bpe_merge_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_spread(spark, sf_dir, "documents")
    pairs = d.select(F.explode(
        T.ngrams_from_tokens(T.tokens(F.col("text")), 2)).alias("pair"))
    c = pairs.groupBy("pair").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"))
    # Distributed top-k FIRST (orderBy+limit -> TakeOrderedAndProject:
    # per-partition top-k, merged at the driver), THEN the ranking
    # window over just MERGE_TOP rows. A global window over the raw
    # pair table would sort the whole vocab-squared aggregate through
    # ONE partition — the single-partition-window warning Spark logs.
    # (cnt DESC, pair) is a total order, so the top-k set and ranks
    # are identical to the windowed-then-filtered form.
    top = c.orderBy(F.desc("cnt"), "pair").limit(MERGE_TOP)
    w = Window.orderBy(F.desc("cnt"), "pair")
    return top.select("pair", "cnt",
                      F.row_number().over(w).cast("bigint").alias("rank"))


DSIR_BUCKETS = 1024  # hashed bigram feature space (DSIR-style)
_SQL_BIGRAM_BUCKET = ("((ascii(substr(g, 1, 1)) * 8191 "
                      "+ ascii(substr(g, len(g), 1)) * 131 "
                      "+ len(g)) % 2147483647) % 1024")


def _bigram_bucket(g: F.Column) -> F.Column:
    """Hashed-bigram feature bucket, integer arithmetic identical to
    _SQL_BIGRAM_BUCKET (first/last codepoint + length — collisions are
    PART of the method: DSIR scores hashed feature buckets, not exact
    n-grams)."""
    return ((F.ascii(F.substring(g, 1, 1)).cast("bigint") * 8191
             + F.ascii(F.substring(g, F.length(g), F.lit(1)))
             .cast("bigint") * 131
             + F.length(g).cast("bigint"))
            % 2_147_483_647) % DSIR_BUCKETS


@register(
    "t28_dsir_importance",
    oracle=f"""
    WITH tk AS (SELECT doc_id, lang, {_SQL_TOKENS} AS t FROM documents),
    ex AS (
      SELECT doc_id, lang, {_SQL_BIGRAM_BUCKET} AS b
      FROM (
        SELECT doc_id, lang, t[i] || ' ' || t[i + 1] AS g
        FROM tk, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
      )
    ),
    tgt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cnt_t
            FROM ex WHERE lang = 'en' GROUP BY b),
    cor AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cnt_c
            FROM ex GROUP BY b),
    tt AS (SELECT SUM(cnt_t) AS tot_t FROM tgt),
    tc AS (SELECT SUM(cnt_c) AS tot_c FROM cor),
    s AS (
      SELECT ex.doc_id,
             LN(CAST(COALESCE(tgt.cnt_t, 0) + 1 AS DOUBLE))
               - LN(CAST((SELECT tot_t FROM tt) + {DSIR_BUCKETS}
                         AS DOUBLE))
               - LN(CAST(cor.cnt_c + 1 AS DOUBLE))
               + LN(CAST((SELECT tot_c FROM tc) + {DSIR_BUCKETS}
                         AS DOUBLE)) AS lr
      FROM ex JOIN cor ON ex.b = cor.b
              LEFT JOIN tgt ON ex.b = tgt.b
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_feats,
           {stable_round_sql(
               dsum_sql("lr") + " / CAST(COUNT(*) AS DOUBLE)")}
             AS importance
    FROM s GROUP BY doc_id
    """,
    doc="DSIR-style importance weights (Xie et al. 2023, 'Data "
        "Selection for Language Models via Importance Resampling'): "
        "each doc scored by the mean log-ratio of a hashed-bigram "
        "unigram model fit on the TARGET slice (lang='en' here) vs "
        "the full corpus, add-1 smoothed over the 1024-bucket feature "
        "space — the weight importance resampling (s12/s16's samplers) "
        "consumes. Bucket tables are <= 1024 rows (broadcast); "
        "per-doc means use the decimal-accumulated dsum, t14's "
        "established sum-of-logs parity pattern. One corpus scan, one "
        "groupBy(doc_id).",
)
def t28_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_spread(spark, sf_dir, "documents")
    ex = (d.select(
        "doc_id", "lang",
        F.explode(T.ngrams_from_tokens(T.tokens(F.col("text")), 2))
        .alias("g"))
        .select("doc_id", "lang", _bigram_bucket(F.col("g")).alias("b"))
        # Three consumers (target counts, corpus counts, probe join):
        # materialize the tokenize+hash stream once.
        .localCheckpoint(eager=False))
    tgt = (ex.filter(F.col("lang") == "en").groupBy("b")
           .agg(F.count(F.lit(1)).cast("bigint").alias("cnt_t")))
    cor = ex.groupBy("b").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt_c"))
    tt = tgt.agg(F.sum("cnt_t").alias("tot_t"))
    tc = cor.agg(F.sum("cnt_c").alias("tot_c"))
    s = (ex.join(F.broadcast(cor), "b")
         .join(F.broadcast(tgt), "b", "left")
         .join(F.broadcast(tt)).join(F.broadcast(tc))
         .select(
             "doc_id",
             (F.log(F.coalesce(F.col("cnt_t"), F.lit(0))
                    .cast("double") + 1.0)
              - F.log((F.col("tot_t") + DSIR_BUCKETS).cast("double"))
              - F.log(F.col("cnt_c").cast("double") + 1.0)
              + F.log((F.col("tot_c") + DSIR_BUCKETS).cast("double")))
             .alias("lr")))
    n = F.count(F.lit(1))
    return s.groupBy("doc_id").agg(
        n.cast("bigint").alias("n_feats"),
        stable_round(dsum("lr") / n.cast("double")).alias("importance"))


@register(
    "t32_zipf_fit",
    oracle=f"""
    WITH ex AS (
      SELECT lang, t AS term
      FROM (SELECT lang, {_SQL_TOKENS} AS ts FROM documents),
           UNNEST(ts) AS u(t)
    ),
    c AS (
      SELECT lang, term, CAST(COUNT(*) AS BIGINT) AS freq
      FROM ex GROUP BY lang, term
    ),
    r AS (
      SELECT lang,
             LN(CAST(ROW_NUMBER() OVER (
                 PARTITION BY lang ORDER BY freq DESC, term) AS DOUBLE))
               AS x,
             LN(CAST(freq AS DOUBLE)) AS y
      FROM c
    ),
    mo AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS n_terms,
             {dsum_sql("x")} AS sx,
             {dsum_sql("y")} AS sy,
             {dsum_sql("x * y")} AS sxy,
             {dsum_sql("x * x")} AS sxx
      FROM r GROUP BY lang
    )
    SELECT lang, n_terms,
           {stable_round_sql(
               '(CAST(n_terms AS DOUBLE) * sxy - sx * sy)'
               ' / (CAST(n_terms AS DOUBLE) * sxx - sx * sx)')}
             AS zipf_slope
    FROM mo
    """,
    doc="Zipf-law fit per language: least-squares slope of ln(freq) "
        "vs ln(rank) over the full vocabulary (natural corpora sit "
        "near -1; synthetic or templated text drifts off) — a "
        "corpus-health diagnostic that catches generation artifacts "
        "the per-doc quality scores cannot. q41's exact-moment "
        "closed form over t12's vocab machinery: the ranking window "
        "runs per language on the vocab-sized aggregate, the moments "
        "are decimal sums (t14's sum-of-logs parity pattern), and the "
        "slope derivation is identical double arithmetic.",
)
def t32_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    c = (d.select("lang", F.explode(T.tokens(F.col("text"))).alias("term"))
         .groupBy("lang", "term")
         .agg(F.count(F.lit(1)).cast("bigint").alias("freq")))
    w = Window.partitionBy("lang").orderBy(F.desc("freq"), "term")
    r = c.select(
        "lang",
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"))
    mo = r.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        dsum("x", "sx"), dsum("y", "sy"),
        dsum(F.col("x") * F.col("y"), "sxy"),
        dsum(F.col("x") * F.col("x"), "sxx"))
    nn = F.col("n_terms").cast("double")
    slope = ((nn * F.col("sxy") - F.col("sx") * F.col("sy"))
             / (nn * F.col("sxx") - F.col("sx") * F.col("sx")))
    return mo.select("lang", "n_terms",
                     stable_round(slope).alias("zipf_slope"))


_T33_POINTS = 10  # prefix grid: vocab measured at 10%, 20%, ... of docs


@register(
    "t33_heaps_fit",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, t AS term
      FROM (SELECT doc_id, {_SQL_TOKENS} AS ts FROM documents),
           UNNEST(ts) AS u(t)
    ),
    fst AS (
      SELECT term, MIN(doc_id) AS first_doc FROM tk GROUP BY term
    ),
    ntok AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM tk
      GROUP BY doc_id
    ),
    mx AS (SELECT MAX(doc_id) AS md FROM documents),
    grid AS (
      SELECT CAST(i AS BIGINT) AS i,
             ((SELECT md FROM mx) + 1) * i / {_T33_POINTS} - 1
               AS cut_doc
      FROM UNNEST(generate_series(1, {_T33_POINTS})) AS g(i)
    ),
    pts AS (
      SELECT g.i,
             (SELECT CAST(SUM(n) AS BIGINT) FROM ntok
              WHERE doc_id <= g.cut_doc) AS n_tokens,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM fst
              WHERE first_doc <= g.cut_doc) AS vocab
      FROM grid g
    ),
    lg AS (
      SELECT i, n_tokens, vocab,
             LN(CAST(n_tokens AS DOUBLE)) AS x,
             LN(CAST(vocab AS DOUBLE)) AS y
      FROM pts WHERE n_tokens > 0 AND vocab > 0
    ),
    mo AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS np,
             {dsum_sql("x")} AS sx,
             {dsum_sql("y")} AS sy,
             {dsum_sql("x * y")} AS sxy,
             {dsum_sql("x * x")} AS sxx
      FROM lg
    )
    SELECT np,
           (SELECT CAST(MAX(n_tokens) AS BIGINT) FROM lg) AS n_tokens,
           (SELECT CAST(MAX(vocab) AS BIGINT) FROM lg) AS vocab,
           {stable_round_sql(
               '(CAST(np AS DOUBLE) * sxy - sx * sy)'
               ' / (CAST(np AS DOUBLE) * sxx - sx * sx)')}
             AS heaps_beta
    FROM mo
    """,
    doc="Heaps'-law fit: vocabulary size as a power of corpus size "
        "(V ~ n^beta, natural text beta ~0.4-0.6; template-generated "
        "or looped text collapses toward 0) — the growth-curve twin "
        "of t32's Zipf diagnostic, and the number that forecasts "
        "tokenizer OOV rates at 100x the corpus. The curve comes from "
        "the FIRST-ARRIVAL trick: a term's vocabulary contribution at "
        "any prefix is first_doc <= cut, so ten cumulative points "
        "need one min-per-term aggregate and a 10-row conditional "
        "rollup — never a distinct-over-growing-prefix scan. Slope "
        "via q41's exact-moment closed form over the 10-point "
        "log-log grid.",
)
def t33_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    tk = (d.select("doc_id",
                   F.explode(T.tokens(F.col("text"))).alias("term"))
          .localCheckpoint(eager=False))  # first-arrival + token counts
    fst = tk.groupBy("term").agg(F.min("doc_id").alias("first_doc"))
    ntok = tk.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"))
    md = d.agg(F.max("doc_id").alias("md"))
    cuts = (spark.range(1, _T33_POINTS + 1).withColumnRenamed("id", "i")
            .join(F.broadcast(md))
            .select("i", ((F.col("md") + 1) * F.col("i")
                          / _T33_POINTS - 1).cast("bigint")
                    .alias("cut_doc")))
    # 10 cut rows broadcast against the two small aggregates; the
    # grid totals are conditional sums, one pass each.
    toks_at = (ntok.join(F.broadcast(cuts),
                         ntok.doc_id <= cuts.cut_doc)
               .groupBy("i").agg(F.sum("n").cast("bigint")
                                 .alias("n_tokens")))
    vocab_at = (fst.join(F.broadcast(cuts),
                         fst.first_doc <= cuts.cut_doc)
                .groupBy("i").agg(F.count(F.lit(1)).cast("bigint")
                                  .alias("vocab")))
    lg = (toks_at.join(vocab_at, "i")
          .filter((F.col("n_tokens") > 0) & (F.col("vocab") > 0))
          .select("i", "n_tokens", "vocab",
                  F.log(F.col("n_tokens").cast("double")).alias("x"),
                  F.log(F.col("vocab").cast("double")).alias("y")))
    mo = lg.agg(
        F.count(F.lit(1)).cast("bigint").alias("np"),
        F.max("n_tokens").cast("bigint").alias("n_tokens"),
        F.max("vocab").cast("bigint").alias("vocab"),
        dsum("x", "sx"), dsum("y", "sy"),
        dsum(F.col("x") * F.col("y"), "sxy"),
        dsum(F.col("x") * F.col("x"), "sxx"))
    nn = F.col("np").cast("double")
    beta = ((nn * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (nn * F.col("sxx") - F.col("sx") * F.col("sx")))
    return mo.select("np", "n_tokens", "vocab",
                     stable_round(beta).alias("heaps_beta"))


@register(
    "t34_corpus_drift",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id % 2 AS snap, {_SQL_TOKENS} AS t FROM documents
    ),
    ex AS (
      SELECT snap, {_SQL_BIGRAM_BUCKET} AS b
      FROM (
        SELECT snap, t[i] || ' ' || t[i + 1] AS g
        FROM tk, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
      )
    ),
    c AS (
      SELECT b,
             CAST(SUM(CASE WHEN snap = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_old,
             CAST(SUM(CASE WHEN snap = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_new
      FROM ex GROUP BY b
    ),
    tot AS (
      SELECT SUM(n_old) AS t_old, SUM(n_new) AS t_new,
             CAST(COUNT(*) AS BIGINT) AS n_buckets
      FROM c
    ),
    p AS (
      SELECT c.b,
             CAST(c.n_old + 1 AS DOUBLE)
               / CAST((SELECT t_old FROM tot)
                      + (SELECT n_buckets FROM tot) AS DOUBLE) AS po,
             CAST(c.n_new + 1 AS DOUBLE)
               / CAST((SELECT t_new FROM tot)
                      + (SELECT n_buckets FROM tot) AS DOUBLE) AS pn
      FROM c
    )
    SELECT (SELECT n_buckets FROM tot) AS n_buckets,
           (SELECT CAST(t_old AS BIGINT) FROM tot) AS n_old_grams,
           (SELECT CAST(t_new AS BIGINT) FROM tot) AS n_new_grams,
           {stable_round_sql(
               'CAST(CAST(SUM(CAST(ABS(po - pn) AS DECIMAL(30,20)))'
               ' AS VARCHAR) AS DOUBLE) / 2.0')} AS tv_distance
    FROM p
    """,
    doc="Corpus drift monitor: total-variation distance between the "
        "hashed-bigram distributions of two corpus snapshots (the "
        "doc_id parity halves stand in for consecutive crawls) with "
        "add-1 smoothing over the observed buckets — the alarm that "
        "says the ingest distribution moved before any downstream "
        "metric does. One grouped scan to the <=1024-bucket contrast "
        "table; the distance is a decimal sum over that aggregate. "
        "No logs: TV distance is pure |p-q| arithmetic, exact across "
        "engines.",
)
def t34_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_spread(spark, sf_dir, "documents")
    ex = (d.select(
        (F.col("doc_id") % 2).alias("snap"),
        F.explode(T.ngrams_from_tokens(T.tokens(F.col("text")), 2))
        .alias("g"))
        .select("snap", _bigram_bucket(F.col("g")).alias("b")))
    c = ex.groupBy("b").agg(
        F.sum((F.col("snap") == 0).cast("int")).cast("bigint")
        .alias("n_old"),
        F.sum((F.col("snap") == 1).cast("int")).cast("bigint")
        .alias("n_new"))
    tot = c.agg(F.sum("n_old").alias("t_old"),
                F.sum("n_new").alias("t_new"),
                F.count(F.lit(1)).cast("bigint").alias("n_buckets"))
    p = (c.join(F.broadcast(tot))
         .select(
             "n_buckets", "t_old", "t_new",
             ((F.col("n_old") + 1).cast("double")
              / (F.col("t_old") + F.col("n_buckets")).cast("double"))
             .alias("po"),
             ((F.col("n_new") + 1).cast("double")
              / (F.col("t_new") + F.col("n_buckets")).cast("double"))
             .alias("pn")))
    return p.groupBy("n_buckets").agg(
        F.max("t_old").cast("bigint").alias("n_old_grams"),
        F.max("t_new").cast("bigint").alias("n_new_grams"),
        stable_round(
            F.sum(F.abs(F.col("po") - F.col("pn"))
                  .cast("decimal(30,20)")).cast("double") / 2.0)
        .alias("tv_distance"))


@register(
    "t35_redaction_impact",
    oracle=f"""
    WITH p AS (
      SELECT source,
             {', '.join(T.pii_counts_sql('text'))},
             CAST(length(text) AS BIGINT) AS len_raw,
             CAST(length({T.redact_pii_sql('text')}) AS BIGINT)
               AS len_red
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN {' + '.join(
               'n_' + tag.lower() for tag, _ in T.PII_PATTERNS)} > 0
               THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_pii,
           {', '.join(
               f'CAST(SUM(n_{tag.lower()}) AS BIGINT) AS n_{tag.lower()}'
               for tag, _ in T.PII_PATTERNS)},
           CAST(SUM(len_raw - len_red) AS BIGINT) AS bytes_delta
    FROM p GROUP BY source
    """,
    doc="Redaction impact report: per source, how much PII the t07 "
        "redaction actually touches — documents affected, hits per "
        "pattern, and the net text-length change after replacement "
        "(negative when [TAG] markers are longer than the matched "
        "spans) — the compliance dashboard that decides whether a "
        "source needs upstream remediation rather than inline "
        "scrubbing. Pure scan-stage regex expressions, one "
        "|sources|-row rollup.",
)
def t35_redaction_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    hits = T.pii_counts(F.col("text"))
    p = d.select(
        "source", *hits,
        F.length("text").cast("bigint").alias("len_raw"),
        F.length(T.redact_pii(F.col("text"))).cast("bigint")
        .alias("len_red"))
    total_hits = None
    for tag, _ in T.PII_PATTERNS:
        c = F.col(f"n_{tag.lower()}")
        total_hits = c if total_hits is None else total_hits + c
    return p.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum((total_hits > 0).cast("int")).cast("bigint")
        .alias("n_docs_with_pii"),
        *[F.sum(f"n_{tag.lower()}").cast("bigint")
          .alias(f"n_{tag.lower()}") for tag, _ in T.PII_PATTERNS],
        F.sum(F.col("len_raw") - F.col("len_red")).cast("bigint")
        .alias("bytes_delta"))


# --------------------------------------------------------------------------
# t36: BM25 top-k retrieval. The sparse-retrieval face of the curation
# stack (t05 is plain TF-IDF): a fixed literal query set is scored
# against the corpus with Lucene-style BM25 (k1=1.2, b=0.75,
# idf = ln((N - df + 0.5)/(df + 0.5) + 1), always positive). The token
# stream is filtered to the query vocabulary BEFORE the (doc, term)
# count shuffle, so the heavy aggregation touches only matching tokens;
# df / query-term / corpus-stats tables are all broadcast-sized. Per
# (query, doc) scores fold through the decimal accumulator so partition
# order cannot move the float sum, and the top-k window runs over the
# already-aggregated (query, doc) rows, partitioned by query.
# --------------------------------------------------------------------------
_BM25_QUERIES: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("q0", ("sort", "merge", "join")),
    ("q1", ("hash", "table", "scan")),
    ("q2", ("stream", "batch", "window")),
    ("q3", ("dup", "row")),
    ("q4", ("fast", "vector", "filter")),
)
_BM25_TERMS = tuple(sorted({t for _, ts in _BM25_QUERIES for t in ts}))
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 10


def _bm25_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    pairs = ", ".join(f"('{qid}', '{t}')"
                      for qid, ts in _BM25_QUERIES for t in ts)
    # The contrib expression below is mirrored term-for-term by the
    # Spark side (same cast positions, same literal constants) so the
    # per-row IEEE tree is identical; only the SUM reassociates, and
    # that goes through the decimal accumulator on both sides.
    contrib = (
        "LN((CAST(s.n_docs AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)"
        " / (CAST(df.df AS DOUBLE) + 0.5) + 1.0)"
        f" * (CAST(tf.tf AS DOUBLE) * {_BM25_K1 + 1.0})"
        f" / (CAST(tf.tf AS DOUBLE) + {_BM25_K1} * ({1.0 - _BM25_B}"
        f" + {_BM25_B} * (CAST(tf.dl AS DOUBLE)"
        " / (CAST(s.total_tokens AS DOUBLE)"
        " / CAST(s.n_docs AS DOUBLE)))))")
    return f"""
    WITH d AS (
      SELECT doc_id, {_SQL_NTOK} AS dl, {_SQL_TOKENS} AS toks
      FROM documents
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS BIGINT) AS total_tokens
      FROM d
    ),
    q(query_id, term) AS (VALUES {pairs}),
    tf AS (
      SELECT doc_id, dl, t AS term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM d, UNNEST(list_filter(toks,
               x -> list_contains([{terms}], x))) AS u(t)
      GROUP BY 1, 2, 3
    ),
    df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    scored AS (
      SELECT q.query_id, tf.doc_id, {contrib} AS contrib
      FROM tf
      JOIN q ON tf.term = q.term
      JOIN df ON tf.term = df.term
      CROSS JOIN stats s
    ),
    agg AS (
      SELECT query_id, doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
             {stable_round_sql(dsum_sql("contrib"))} AS score
      FROM scored GROUP BY 1, 2
    )
    SELECT query_id, doc_id, rank, n_terms_matched, score FROM (
      SELECT query_id, doc_id, n_terms_matched, score,
             CAST(ROW_NUMBER() OVER (
                 PARTITION BY query_id
                 ORDER BY score DESC, doc_id) AS INT) AS rank
      FROM agg
    ) WHERE rank <= {_BM25_TOPK}
    """


@register(
    "t36_bm25_topk",
    oracle=_bm25_oracle(),
    doc="BM25 top-10 retrieval for a fixed 5-query set (Lucene idf "
        "variant, k1=1.2, b=0.75): the token stream is filtered to the "
        "14-term query vocabulary BEFORE the (doc, term) tf shuffle, so "
        "the aggregation is proportional to matching tokens, not the "
        "corpus; df / query-pairs / corpus-stats sides are broadcast; "
        "per-(query, doc) scores use the decimal-accumulated dsum and "
        "the top-k window partitions by query over already-aggregated "
        "rows. At 100 TB this is the classic broadcast-filtered "
        "inverted-index scan: one corpus pass + one |matched-token| "
        "shuffle.",
)
def t36_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_spread(spark, sf_dir, "documents")
    base = d.select("doc_id", T.tokens(F.col("text")).alias("toks"))
    # Corpus stats (1 row, broadcast): N and total token count — avgdl
    # is derived with the SAME division expression in both engines.
    stats = base.select(F.size("toks").alias("dl")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("total_tokens"))
    terms_arr = F.array(*[F.lit(t) for t in _BM25_TERMS])
    tf = (
        base.select(
            "doc_id", F.size("toks").alias("dl"),
            F.explode(F.filter(
                "toks",
                lambda x: F.array_contains(terms_arr, x))).alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf")))
    df_tbl = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"))
    qpairs = F.array(*[
        F.struct(F.lit(qid).alias("query_id"), F.lit(t).alias("term"))
        for qid, ts in _BM25_QUERIES for t in ts])
    qtab = (spark.range(1)
            .select(F.explode(qpairs).alias("p"))
            .select("p.query_id", "p.term"))
    idf = F.log(
        (F.col("n_docs").cast("double") - F.col("df").cast("double")
         + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5)) + F.lit(1.0))
    contrib = (
        idf
        * (F.col("tf").cast("double") * F.lit(_BM25_K1 + 1.0))
        / (F.col("tf").cast("double") + F.lit(_BM25_K1)
           * (F.lit(1.0 - _BM25_B) + F.lit(_BM25_B)
              * (F.col("dl").cast("double")
                 / (F.col("total_tokens").cast("double")
                    / F.col("n_docs").cast("double"))))))
    scored = (
        tf.join(F.broadcast(qtab), "term")
        .join(F.broadcast(df_tbl), "term")
        .join(F.broadcast(stats))
        .select("query_id", "doc_id", contrib.alias("contrib")))
    agg = scored.groupBy("query_id", "doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms_matched"),
        stable_round(dsum("contrib")).alias("score"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc())
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _BM25_TOPK)
        .select("query_id", "doc_id", "rank", "n_terms_matched", "score"))


# --------------------------------------------------------------------------
# t37: TextRank keyword extraction — PageRank (s40's iteration machine)
# applied to the word co-occurrence graph. Candidate keywords are
# non-stopword alphabetic tokens (>= 3 chars); edges connect CONSECUTIVE
# candidates within a document (window 2 over the filtered sequence,
# the classic TextRank adjacency), weighted by corpus-wide
# co-occurrence count and made symmetric, so weighted degree >= 1
# everywhere and rank mass is conserved. Pair emission is scan-stage
# (zip_with over the filtered array — token volume, never a join); the
# graph shuffles once into (pair, weight); three weighted-PageRank
# iterations run over the eagerly-checkpointed edge list. Parity by
# the s40/s41 induction: the contribution (r * w) / wdeg is the same
# IEEE chain and every cross-row sum is decimal-accumulated, so ranks
# are bit-identical and the top-20 cut (raw r, word tie-break) agrees.
# --------------------------------------------------------------------------
_T37_ITERS = 3
_T37_TOPK = 20


def _t37_oracle() -> str:
    stops = ", ".join(f"'{s}'" for s in T.EN_STOPWORDS)
    contrib = dsum_sql("(r * CAST(w AS DOUBLE)) / CAST(wdeg AS DOUBLE)")
    iters = []
    prev = "r0"
    for k in range(1, _T37_ITERS + 1):
        iters.append(f"""
    c{k} AS (
      SELECT e.dst AS word, {contrib} AS s
      FROM e JOIN {prev} ON e.src = {prev}.word
             JOIN deg ON e.src = deg.src
      GROUP BY e.dst),
    r{k} AS (
      SELECT word,
             0.15 / CAST((SELECT n FROM nn) AS DOUBLE) + 0.85 * s AS r
      FROM c{k})""")
        prev = f"r{k}"
    return f"""
    WITH kwd AS (
      SELECT list_filter({_SQL_TOKENS},
                         t -> regexp_full_match(t, '[a-z]{{3,}}')
                              AND t NOT IN ({stops})) AS kws
      FROM documents),
    pe AS (
      SELECT kws[i] AS w1, kws[i + 1] AS w2
      FROM kwd,
           UNNEST(generate_series(1, greatest(len(kws) - 1, 0))) AS g(i)),
    pc AS MATERIALIZED (
      SELECT LEAST(w1, w2) AS a, GREATEST(w1, w2) AS b,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM pe WHERE w1 <> w2 GROUP BY 1, 2),
    e AS MATERIALIZED (
      SELECT a AS src, b AS dst, w FROM pc
      UNION ALL
      SELECT b AS src, a AS dst, w FROM pc),
    deg AS MATERIALIZED (
      SELECT src, CAST(SUM(w) AS BIGINT) AS wdeg FROM e GROUP BY 1),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg),
    r0 AS (SELECT src AS word,
                  1.0 / CAST((SELECT n FROM nn) AS DOUBLE) AS r
           FROM deg),{','.join(iters)},
    ranked AS (
      SELECT r.word, deg.wdeg,
             ROW_NUMBER() OVER (ORDER BY r.r DESC, r.word ASC) AS pos,
             r.r AS r
      FROM r{_T37_ITERS} r JOIN deg ON r.word = deg.src)
    SELECT word, wdeg, CAST(pos AS INT) AS pos,
           {stable_round_sql('r')} AS score
    FROM ranked WHERE pos <= {_T37_TOPK}
    """


@register(
    "t37_textrank_keywords",
    oracle=_t37_oracle(),
    doc="TextRank keyword extraction: weighted PageRank (damping 0.85, "
        "3 iterations) over the corpus word co-occurrence graph — "
        "consecutive non-stopword alphabetic tokens within a document "
        "form symmetric weighted edges. Pair emission is a scan-stage "
        "zip_with over the filtered token array (cost = token volume), "
        "the graph aggregates once into (pair, weight), and the "
        "iterations run over the checkpointed edge list at graph "
        "scale, never corpus scale. Returns the top-20 keywords with "
        "weighted degree and rank — corpus-level topic surface for "
        "curation dashboards.",
)
def t37_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_spread(spark, sf_dir, "documents")
    stops = list(T.EN_STOPWORDS)
    kwd = d.select(F.filter(
        T.tokens(F.col("text")),
        lambda t: t.rlike("^[a-z]{3,}$") & ~t.isin(stops)).alias("kws"))
    pe = (kwd.filter(F.size("kws") >= 2)
          .select(F.explode(F.zip_with(
              F.expr("slice(kws, 1, size(kws) - 1)"),
              F.expr("slice(kws, 2, size(kws) - 1)"),
              lambda a, b: F.struct(a.alias("w1"), b.alias("w2"))))
              .alias("p"))
          .select("p.w1", "p.w2")
          .filter(F.col("w1") != F.col("w2")))
    pc = (pe.select(F.least("w1", "w2").alias("a"),
                    F.greatest("w1", "w2").alias("b"))
          .groupBy("a", "b")
          .agg(F.count(F.lit(1)).cast("bigint").alias("w")))
    from mousedatapipeline_spark.operators.graph import symmetrize_edges

    from mousedatapipeline_spark.tables import pin_keyed

    # One pair-counting pass shared by the degree table and all
    # iterations (s40's eager-checkpoint recipe); both directions from
    # a single pass over pc (a union would run the corpus pair count
    # once per branch inside the checkpoint job). ew is pinned by the
    # per-iteration join key past broadcast scale (pin_keyed —
    # identity locally, one-shuffle layout at 100 TB).
    e = symmetrize_edges(pc, "a", "b", carry=("w",)) \
        .localCheckpoint(eager=True)
    deg = e.groupBy("src").agg(F.sum("w").cast("bigint").alias("wdeg"))
    ew = pin_keyed(e.join(deg, "src"), ["src"])
    n = float(ew.select(F.count_distinct("src")).first()[0])
    r = ew.select("src").distinct().select(
        F.col("src").alias("word"), (F.lit(1.0) / F.lit(n)).alias("r"))
    for _ in range(_T37_ITERS):
        c = (ew.join(r, ew.src == r.word).drop("word")
             .groupBy("dst")
             .agg(dsum((F.col("r") * F.col("w").cast("double"))
                       / F.col("wdeg").cast("double")).alias("s")))
        r = c.select(F.col("dst").alias("word"),
                     (F.lit(0.15) / F.lit(n)
                      + F.lit(0.85) * F.col("s")).alias("r"))
    # Distributed top-k (TakeOrderedAndProject) before the ranking
    # window: the scored table is vocabulary-sized, and a global
    # row_number over it would sort the whole vocabulary through one
    # partition. (r DESC, word) totally orders the rows (word is
    # unique after the rank aggregation), so top-k + re-rank is
    # value-identical to window-then-filter.
    w_top = Window.orderBy(F.col("r").desc(), F.col("word").asc())
    return (r.join(deg.withColumnRenamed("src", "word"), "word")
            .orderBy(F.col("r").desc(), F.col("word").asc())
            .limit(_T37_TOPK)
            .withColumn("pos", F.row_number().over(w_top).cast("int"))
            .select("word", "wdeg", "pos",
                    stable_round(F.col("r")).alias("score")))


# ---- t38: URL canonicalization + exact dedup (web-crawl curation) --------
#
# The one web-pipeline operation the catalog lacked: CommonCrawl-style
# URL canonicalization (lowercase scheme/host, strip default port and
# 'www.', drop the fragment, remove tracking params, sort the query
# string, strip the trailing slash) followed by exact dedup on the
# canonical form. The documents table carries no URL column, so — the
# mm-family discipline (image_queries._media_sql_prelude) — each doc
# mints one deterministic raw URL from pure integer arithmetic on
# doc_id, reproduced verbatim in the oracle: page doc_id//3, and the
# three doc_id%3 variants differ only in junk the canonicalizer must
# remove (case, :443, www., utm_/gclid params, param order, trailing
# slash, #fragment), so every complete triple collapses to ONE
# canonical URL. Canonicalization lives in operators/text.py
# (canonical_url / canonical_url_sql — the t07/t24 pattern discipline:
# regexp_extract/replace in the Java-regex ∩ RE2 subset plus list
# filter/sort) — scan-stage, codegen'd, zero per-row Python. At 100 TB
# this is one well-distributed groupBy on (host, canon) then a
# |hosts|-row rollup; no skew (pages spread uniformly), no window.


@register(
    "t38_url_canonical_dedup",
    oracle=rf"""
    WITH u AS (
      SELECT doc_id,
        CASE doc_id % 3
          WHEN 0 THEN 'https://h' || CAST((doc_id // 3) % 7 AS VARCHAR)
            || '.example.com/d/' || CAST(doc_id // 3 AS VARCHAR)
            || '?a=1&b=2&ref=' || CAST((doc_id // 3) % 5 AS VARCHAR)
          WHEN 1 THEN 'HTTPS://WWW.H' || CAST((doc_id // 3) % 7 AS VARCHAR)
            || '.EXAMPLE.COM:443/d/' || CAST(doc_id // 3 AS VARCHAR)
            || '/?utm_source=feed&b=2&a=1&ref='
            || CAST((doc_id // 3) % 5 AS VARCHAR) || '#frag'
          ELSE 'https://www.h' || CAST((doc_id // 3) % 7 AS VARCHAR)
            || '.example.com/d/' || CAST(doc_id // 3 AS VARCHAR)
            || '?b=2&a=1&ref=' || CAST((doc_id // 3) % 5 AS VARCHAR)
            || '&gclid=g' || CAST(doc_id AS VARCHAR)
        END AS url
      FROM documents
    ),
    k AS (
      SELECT doc_id, url,
        {T.url_host_sql('url')} AS host,
        {T.canonical_url_sql('url')} AS canon
      FROM u
    ),
    g AS (
      SELECT host, canon, COUNT(*) AS cnt,
             SUM(CASE WHEN url <> canon THEN 1 ELSE 0 END) AS dirty
      FROM k GROUP BY host, canon
    )
    SELECT host,
      CAST(SUM(cnt) AS BIGINT) AS n_raw,
      CAST(COUNT(*) AS BIGINT) AS n_canonical,
      CAST(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT)
        AS n_dup_rows,
      CAST(MAX(cnt) AS BIGINT) AS max_group,
      CAST(SUM(dirty) AS BIGINT) AS n_dirty
    FROM g GROUP BY host ORDER BY host
    """,
    doc="URL canonicalization + exact dedup (the web-crawl curation "
        "stage): deterministic minted raw URLs (three junk variants "
        "per page — case, :443, www., utm_/gclid tracking params, "
        "param order, trailing slash, fragment) are canonicalized by "
        "a pure regexp_extract/replace + array filter/sort chain in "
        "the Java-regex ∩ RE2 subset, then exact-deduped on the "
        "canonical form; per-host rollup of raw/canonical/dup/dirty "
        "counts. Scan-stage codegen, one (host, canon) groupBy, one "
        "|hosts|-row rollup — no skew, no window, no UDF.",
)
def t38_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id")
    page = F.floor(F.col("doc_id") / 3).cast("bigint")
    ps, ref = page.cast("string"), (page % 5).cast("string")
    hostn = (page % 7).cast("string")
    v = (F.col("doc_id") % 3).cast("int")
    url = (
        F.when(v == 0, F.concat(
            F.lit("https://h"), hostn, F.lit(".example.com/d/"), ps,
            F.lit("?a=1&b=2&ref="), ref))
        .when(v == 1, F.concat(
            F.lit("HTTPS://WWW.H"), hostn, F.lit(".EXAMPLE.COM:443/d/"),
            ps, F.lit("/?utm_source=feed&b=2&a=1&ref="), ref,
            F.lit("#frag")))
        .otherwise(F.concat(
            F.lit("https://www.h"), hostn, F.lit(".example.com/d/"), ps,
            F.lit("?b=2&a=1&ref="), ref, F.lit("&gclid=g"),
            F.col("doc_id").cast("string"))))
    u = d.select("doc_id", url.alias("url"))
    k = u.select("doc_id", "url",
                 T.url_host(F.col("url")).alias("host"),
                 T.canonical_url(F.col("url")).alias("canon"))
    g = (k.groupBy("host", "canon")
         .agg(F.count(F.lit(1)).alias("cnt"),
              F.sum((F.col("url") != F.col("canon")).cast("bigint"))
              .alias("dirty")))
    return (g.groupBy("host")
            .agg(F.sum("cnt").cast("bigint").alias("n_raw"),
                 F.count(F.lit(1)).cast("bigint").alias("n_canonical"),
                 F.sum(F.when(F.col("cnt") > 1, F.col("cnt"))
                       .otherwise(F.lit(0))).cast("bigint")
                 .alias("n_dup_rows"),
                 F.max("cnt").cast("bigint").alias("max_group"),
                 F.sum("dirty").cast("bigint").alias("n_dirty"))
            .orderBy("host"))
