"""Streaming catalog entry: the watcher path (W1-W5) run end-to-end in
``availableNow`` mode, checked against the equivalent BATCH SQL oracle.

The reference's "streaming" is ingestion-triggered batch (SURVEY.md
§2.8), so streaming/batch parity IS the correctness contract: draining
the landing area in one availableNow pass must produce exactly the
batch aggregation of the same files. That is what the oracle asserts.

Landing, draining and versioned foreachBatch state are the shared
harness in ``streaming/fold.py``, work-dir cleanup is ``scratch``; each
query here is its stream and its merge.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mousedatapipeline_spark import scratch
from mousedatapipeline_spark.functions.rounding import (
    stable_round,
    stable_round_sql,
)
from mousedatapipeline_spark.operators import bloom
from mousedatapipeline_spark.operators import sketches as K
from mousedatapipeline_spark.operators import text as TX
from mousedatapipeline_spark.operators.aggregates import DEC, dsum_sql
from mousedatapipeline_spark.plans.catalog import _REGISTRY, register
from mousedatapipeline_spark.plans.curation_queries import _C05_TARGET
from mousedatapipeline_spark.plans.decontam_queries import EVAL_MOD, NGRAM
from mousedatapipeline_spark.plans.events_queries import (
    _E22_B,
    SESSION_WINDOW_ORACLE_SQL,
    _e22_sql,
    _e22_tail,
    _e22_weights_col,
    hourly_counts,
)
from mousedatapipeline_spark.streaming import fold, stateful, watcher
from mousedatapipeline_spark.tables import load, load_spread


def _chunk_stream(spark: SparkSession, df: DataFrame, work: Path, n: int,
                  key: str) -> DataFrame:
    """``df`` landed as ``n`` chunks range-partitioned on ``key``,
    streamed back one file per trigger."""
    landing = work / "landing"
    schema = fold.land_chunks(df, landing, n, key)
    return watcher.stream_manifest(spark, str(landing), schema,
                                   max_files_per_trigger=1)


def _events_us(spark: SparkSession, sf_dir: str, *cols: str) -> DataFrame:
    """Events with ``ts`` as unix micros (``ts_us``), the time key the
    stateful queries land and order on."""
    return load(spark, sf_dir, "events").select(
        *cols, F.unix_micros("ts").alias("ts_us"))


@register(
    "w01_stream_tumbling_counts",
    oracle=_REGISTRY["e01_tumbling_counts"].oracle,
    doc="W1-W5 end-to-end: events land in a staging dir, a Structured "
        "Streaming file source drains them availableNow through "
        "foreachBatch into a parquet sink, and the drained sink must "
        "equal the batch aggregation (streaming/batch parity oracle).",
)
def w01_stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    with scratch.workdir("mouse_stream_") as work:
        landing = work / "landing"
        landing.mkdir()
        shutil.copy(f"{sf_dir}/events.parquet", landing / "events.parquet")
        # File sources need an explicit schema: the file's own (a footer
        # read), so the stream follows whichever ts encoding it stores.
        stream = watcher.stream_manifest(
            spark, str(landing), spark.read.parquet(str(landing)).schema)
        sink = str(work / "sink")
        fold.drain(spark, lambda: watcher.run_watcher(
            stream, hourly_counts, sink, str(work / "ckpt"),
            available_now=True, dedupe_keys=None))
        return scratch.keep(spark.read.parquet(sink))


@register(
    "w02_stream_sessionization",
    oracle=_REGISTRY["e02_sessionization"].oracle,
    doc="Stateful Structured Streaming sessionization "
        "(applyInPandasWithState): per-user gap-session state carried "
        "across micro-batch triggers (time-chunked landing files, "
        "maxFilesPerTrigger=1), reduced idempotently from the append "
        "sink. Oracle = the BATCH sessionization SQL (e02) — "
        "streaming/batch parity is the correctness contract.",
)
def w02_stream_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    with scratch.workdir("mouse_sess_stream_") as work:
        stream = _chunk_stream(spark, _events_us(spark, sf_dir, "user_id"),
                               work, 2, "ts_us")
        emissions = fold.sink(
            spark, stateful.sessionize_stream(stream, gap_seconds=1800), work)
        # Counters are monotonic per key, so max() over the append sink
        # is the exactly-once final answer even under trigger re-delivery.
        return scratch.keep(emissions.groupBy("user_id").agg(
            F.max("n_sessions").cast("bigint").alias("n_sessions"),
            F.max("n_events").cast("bigint").alias("n_events")))


@register(
    "w03_stream_dedup",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type
    """,
    doc="Streaming exactly-once under duplicate delivery: the landing "
        "area receives every event TWICE (two files, two triggers); "
        "dropDuplicatesWithinWatermark keyed on event_id drops the "
        "re-delivery with bounded state, so the drained sink equals the "
        "batch aggregation of the ORIGINAL events — the oracle is "
        "deliberately blind to the duplication.",
)
def w03_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    with scratch.workdir("mouse_dedup_stream_") as work:
        landing = work / "landing"
        ev = load(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "ts")
        # Deliver the whole table twice: the second file is a full replay.
        for _ in range(2):
            schema = fold.land_chunks(ev, landing, 1, "event_id")
        stream = watcher.stream_manifest(spark, str(landing), schema,
                                         max_files_per_trigger=1)
        # Data spans ~1 month; a 60-day horizon keeps every key's state
        # alive for the whole replay, so ALL re-deliveries are dropped.
        deduped = stateful.dedupe_stream(stream, ["event_id"], "ts",
                                         watermark="60 days")
        return scratch.keep(fold.sink(spark, deduped, work)
                         .groupBy("event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.count_distinct("user_id").cast("bigint").alias("n_users")))


# --------------------------------------------------------------------------
# w04: streaming incremental aggregate maintenance. Each micro-batch
# folds its (tiny) delta into a persisted running aggregate — the
# streaming face of q19's IVM story: per-trigger cost is proportional
# to the delta plus the aggregate's cardinality, never to history.
# --------------------------------------------------------------------------


def _w04_merge(prior: DataFrame, batch: DataFrame) -> DataFrame:
    rows = batch.select(
        "event_type", F.lit(1).cast("bigint").alias("n_events"),
        F.col("value").cast(DEC).alias("value_dec"))
    return (prior.unionByName(rows)
            .groupBy("event_type")
            .agg(F.sum("n_events").cast("bigint").alias("n_events"),
                 # narrow the decimal(38,10) sum back down so later
                 # merges never hit the precision-loss scale cut
                 F.sum("value_dec").cast(DEC).alias("value_dec")))


_W04_FOLD = fold.Fold(
    _w04_merge, f"event_type string, n_events bigint, value_dec {DEC}")


@register(
    "w04_stream_incremental_agg",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {stable_round_sql(dsum_sql("value"))} AS value_sum
    FROM events
    GROUP BY event_type
    """,
    doc="Streaming incremental view maintenance: events drain through "
        "a file source one chunk per trigger; foreachBatch merges each "
        "batch's per-type delta into a versioned running aggregate "
        "(decimal accumulators, atomic version-bump writes). The final "
        "state must equal the batch aggregation of all events — "
        "incremental streaming == full recompute, exactly.",
)
def w04_stream_incremental_agg(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    with scratch.workdir("mouse_w04_") as work:
        ev = load(spark, sf_dir, "events").select(
            "event_id", "event_type", "value")
        state = _W04_FOLD.run(
            spark, _chunk_stream(spark, ev, work, 3, "event_id"), work)
        return scratch.keep(state.select(
            "event_type", "n_events",
            stable_round(F.col("value_dec").cast("double"))
            .alias("value_sum")))


# --------------------------------------------------------------------------
# w05: stream-stream self-join with watermark-bounded state. Clicks and
# purchases are two filtered branches of ONE file-source stream; the
# inner join holds click state only until the watermark passes
# c_ts + 1h, so state is proportional to the join window, never to
# history. Chunks land in time order (range-partitioned files), which
# is exactly the layout that lets the watermark advance and evict.
# The oracle is the equivalent batch theta-join — streaming/batch
# parity again.
# --------------------------------------------------------------------------
@register(
    "w05_stream_stream_join",
    oracle="""
    WITH c AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'click'),
         p AS (SELECT user_id, ts FROM events
               WHERE event_type = 'purchase'),
         pairs AS (
           SELECT c.user_id, c.event_id
           FROM c JOIN p ON c.user_id = p.user_id
            AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
         )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_converted_clicks
    FROM pairs GROUP BY user_id
    """,
    doc="Stream-stream inner self-join: click -> purchase attribution "
        "within (t, t+1h] joined AS STREAMS with 90-minute watermarks "
        "on both branches; joined pairs append to a parquet sink and "
        "the drained sink must equal the batch theta-join (parity "
        "oracle). Join state is bounded by the window + watermark, "
        "independent of stream length.",
)
def w05_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    with scratch.workdir("mouse_w05_") as work:
        # Two time chunks = two triggers: enough to prove watermark-
        # bounded cross-trigger join state while keeping the per-trigger
        # fixed cost (state-store open/commit x partitions x 2 sides)
        # off the bench's critical path. Trigger count is a harness
        # choice, not a scale property — state size depends on the
        # watermark, not chunking.
        stream = _chunk_stream(
            spark, _events_us(spark, sf_dir, "event_id", "user_id",
                              "event_type"),
            work, 2, "ts_us").withColumn(
            "ts", F.timestamp_micros(F.col("ts_us")))
        clicks = (stream.filter(F.col("event_type") == "click")
                  .select(F.col("event_id").alias("c_event_id"),
                          F.col("user_id").alias("c_user_id"),
                          F.col("ts").alias("c_ts"))
                  .withWatermark("c_ts", "90 minutes"))
        purchases = (stream.filter(F.col("event_type") == "purchase")
                     .select(F.col("user_id").alias("p_user_id"),
                             F.col("ts").alias("p_ts"))
                     .withWatermark("p_ts", "90 minutes"))
        pairs = clicks.join(
            purchases,
            (F.col("c_user_id") == F.col("p_user_id"))
            & (F.col("p_ts") > F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
            "inner",
        ).select(F.col("c_user_id").alias("user_id"), "c_event_id")
        back = fold.sink(spark, pairs, work)
        return scratch.keep(back.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.count_distinct("c_event_id").cast("bigint")
            .alias("n_converted_clicks")))


# --------------------------------------------------------------------------
# w06: incremental SKETCH maintenance. The HLL register table is a
# max-merge monoid, so a streaming foreachBatch can fold each chunk's
# registers into a tiny versioned state (<= n_groups x 64 rows) and the
# final estimate must equal the batch sketch over the full table —
# sketch mergeability proven end-to-end, with a full SQL oracle. This
# is the 100-TB cardinality dashboard: per-trigger work is one partial
# max-aggregate, state never grows with history.
# --------------------------------------------------------------------------
# Modulo-first Knuth hash: generated from the ONE definition in
# operators/sketches.py so the Spark side (K.user_hash) and this oracle
# can never desynchronize (code-review r06 — a hand-inlined copy of the
# reduced constant 506952114 lived here before).
def _w06_hash_sql() -> str:
    return f"({K.user_hash_sql('user_id', 40503)})"


def _w06_merge(prior: DataFrame, batch: DataFrame) -> DataFrame:
    h = batch.select(
        "event_type", K.user_hash(F.col("user_id"), 40503).alias("th"))
    return (prior.unionByName(K.hll_registers(h, "th", ["event_type"]))
            .groupBy("event_type", "reg")
            .agg(F.max("max_rho").alias("max_rho")))


_W06_FOLD = fold.Fold(_w06_merge, "event_type string, reg int, max_rho int")


def _w06_oracle_sql() -> str:
    reg_expr, rho_expr = K.hll_registers_sql("th")
    return f"""
    WITH h AS (
      SELECT event_type, {_w06_hash_sql()} AS th FROM events
    ),
    reg AS (
      SELECT event_type, {reg_expr} AS reg, MAX({rho_expr}) AS max_rho
      FROM h GROUP BY 1, 2
    )
    SELECT event_type, {stable_round_sql(K.HLL_EST_SQL)} AS hll_users
    FROM reg GROUP BY event_type
    """


@register(
    "w06_stream_hll_users",
    oracle=_w06_oracle_sql(),
    doc="Incremental distinct-user estimation: events drain one chunk "
        "per trigger; foreachBatch max-merges each batch's 64 HLL "
        "registers per event_type into a versioned state table "
        "(<= groups x 64 rows forever). The final estimate must equal "
        "the batch sketch of the whole table — max-merge monoid parity, "
        "hash-gated by the SQL oracle.",
)
def w06_stream_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    with scratch.workdir("mouse_w06_") as work:
        ev = load(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type")
        registers = _W06_FOLD.run(
            spark, _chunk_stream(spark, ev, work, 3, "event_id"), work)
        est = K.hll_estimate(registers, ["event_type"])
        return scratch.keep(est.select(
            "event_type", stable_round(F.col("hll_est_raw")).alias("hll_users")))


# --------------------------------------------------------------------------
# w07: streaming quantile maintenance with BOUNDED state. Exact
# streaming quantiles need unbounded state, so the production shape is
# a mergeable fixed-bucket histogram: each micro-batch folds its bucket
# counts into a versioned state table capped at N_BUCKETS rows forever,
# and quantiles read off the cumulative histogram. The oracle computes
# the same histogram quantile from the batch table — streaming merge ==
# full recompute, hash-exact, because the bucketing (declared domain,
# integer arithmetic) is deterministic on both engines.
# --------------------------------------------------------------------------
_W07_DOMAIN_CENTS = 50_000   # declared value domain [0, 500) dollars
_W07_BUCKET_WIDTH = 16       # 3125 buckets -> state <= 3125 rows forever
_W07_QS = ((0.5, "p50_cents"), (0.9, "p90_cents"), (0.99, "p99_cents"))

_W07_BUCKET_SQL = (
    "LEAST(GREATEST(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT), 0), "
    f"{_W07_DOMAIN_CENTS - 1}) // {_W07_BUCKET_WIDTH}")


def _w07_bucket_col() -> F.Column:
    cents = F.floor(F.col("value") * 100.0 + 0.5).cast("bigint")
    clamped = F.least(F.greatest(cents, F.lit(0)),
                      F.lit(_W07_DOMAIN_CENTS - 1))
    # (x - x % w) / w == x DIV w for non-negative x, in exact bigint.
    return (clamped - clamped % _W07_BUCKET_WIDTH) / _W07_BUCKET_WIDTH


def _w07_merge(prior: DataFrame, batch: DataFrame) -> DataFrame:
    rows = batch.select(_w07_bucket_col().cast("bigint").alias("bucket"),
                        F.lit(1).cast("bigint").alias("cnt"))
    return (prior.unionByName(rows).groupBy("bucket")
            .agg(F.sum("cnt").cast("bigint").alias("cnt")))


_W07_FOLD = fold.Fold(_w07_merge, "bucket bigint, cnt bigint")


@register(
    "w07_stream_quantile_histogram",
    oracle=f"""
    WITH h AS (
      SELECT {_W07_BUCKET_SQL} AS bucket, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1
    ),
    c AS (
      SELECT bucket, cnt,
             SUM(cnt) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
               AS cum,
             SUM(cnt) OVER () AS n
      FROM h
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_events,
           {", ".join(
               f"CAST(MIN(CASE WHEN cum >= CEIL({q} * n) "
               f"THEN bucket * {_W07_BUCKET_WIDTH} END) AS BIGINT) "
               f"AS {alias}"
               for q, alias in _W07_QS)}
    FROM c
    """,
    doc="Streaming quantile maintenance with bounded state: events "
        "drain one chunk per trigger; foreachBatch folds each batch's "
        "fixed-bucket value histogram (declared [0,500) dollar domain, "
        "16-cent buckets -> <= 3125 state rows forever) into a "
        "versioned state table; p50/p90/p99 read off the cumulative "
        "histogram as bucket lower bounds. Oracle = the identical "
        "histogram quantile over the batch table — merge-parity is "
        "hash-exact because the bucketing is integer-deterministic. "
        "The cumulative window runs on the histogram, never events.",
)
def w07_stream_quantile_histogram(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    with scratch.workdir("mouse_w07_") as work:
        ev = load(spark, sf_dir, "events").select("event_id", "value")
        hist = _W07_FOLD.run(
            spark, _chunk_stream(spark, ev, work, 3, "event_id"), work)
        c = hist.select(
            "bucket", "cnt",
            F.sum("cnt").over(Window.orderBy("bucket").rowsBetween(
                Window.unboundedPreceding, 0)).alias("cum"),
            F.sum("cnt").over(Window.partitionBy()).alias("n"))
        return scratch.keep(c.agg(
            F.max("n").cast("bigint").alias("n_events"),
            *[F.min(F.when(F.col("cum") >= F.ceil(F.lit(q) * F.col("n")),
                           F.col("bucket") * _W07_BUCKET_WIDTH))
              .cast("bigint").alias(alias)
              for q, alias in _W07_QS]))


@register(
    "w08_stream_session_window",
    # e14's oracle, imported — the streaming sink must equal the
    # batch sessionization by the SAME definition.
    oracle=SESSION_WINDOW_ORACLE_SQL,
    doc="Watermarked NATIVE streaming session windows (the e14 "
        "expression under a real watermark, vs w02's "
        "applyInPandasWithState): time-chunked files drain two per "
        "trigger; session state merges across triggers and each "
        "session emits (append mode) only when the watermark passes "
        "its end — state is bounded by open sessions, never history. "
        "One far-future sentinel event in the final trigger plus the "
        "closing no-data micro-batch advance the watermark so every "
        "real session finalizes before the drain ends; the sink must "
        "then equal the batch sessionization (e14's oracle).",
)
def w08_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    with scratch.workdir("mouse_w08_") as work:
        landing = work / "landing"
        schema = fold.land_chunks(_events_us(spark, sf_dir, "user_id"),
                                  landing, 3, "ts_us")
        # Sentinel: ONE far-future event for a filtered-out user. It
        # lands in the final data trigger and pushes the stream's max
        # event time past every real session end (end <= max real ts +
        # 30 min); the closing no-data micro-batch (noDataMicroBatches,
        # Spark default) then advances the watermark from it and
        # finalizes every real session before the availableNow drain
        # terminates — no second sentinel trigger needed. The max event
        # time comes from the LAST chunk file (range partitioning put
        # the top ts range there) — no second scan of the events table.
        chunks = sorted(landing.glob("chunk*.parquet"))
        max_us = (spark.read.parquet(str(chunks[-1]))
                  .agg(F.max("ts_us")).first()[0] if chunks else None)
        if max_us is None:  # empty fixture: no sessions (ADVICE r05)
            return spark.createDataFrame(
                [], "user_id bigint, session_start_us bigint, "
                    "session_end_us bigint, n_events bigint")
        # range+lit, not createDataFrame: local-data scans route through
        # a Python worker and cost seconds per job; this stays JVM-only.
        sent = spark.range(1).select(
            F.lit(-1).cast("bigint").alias("user_id"),
            F.lit(max_us + 864_000_000_000).cast("bigint").alias("ts_us"))
        fold.land_chunks(sent, landing, 1, "ts_us")
        # Two files per trigger: batches land as [c0,c1], [c2,sentinel]
        # — real-session state still merges across the two triggers (the
        # semantics under test), and the watermark flush rides the free
        # no-data batch: 2 state-store/sink triggers instead of r02's 3
        # (r01 had 5).
        stream = (watcher.stream_manifest(spark, str(landing), schema,
                                          max_files_per_trigger=2)
                  .select("user_id",
                          F.timestamp_micros(F.col("ts_us")).alias("ts"))
                  .withWatermark("ts", "1 second"))
        agg = (stream.groupBy(F.session_window("ts", "30 minutes"), "user_id")
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_events")))
        back = fold.sink(spark, agg, work)
        return scratch.keep(
            back.filter(F.col("user_id") >= 0)
            .select("user_id",
                    F.unix_micros("session_window.start").cast("bigint")
                    .alias("session_start_us"),
                    F.unix_micros("session_window.end").cast("bigint")
                    .alias("session_end_us"),
                    "n_events"))


# --------------------------------------------------------------------------
# w09: streaming top-k maintenance. The top-k-by-value rows per event
# type, maintained incrementally: each micro-batch's rows union into
# the persisted k-row-per-type state and re-truncate — a monoid fold
# (top-k of a union = top-k of top-k's), so state is bounded at
# k x |types| rows forever and the result equals the batch top-k of all
# history. Ties break on event_id for determinism.
# --------------------------------------------------------------------------
_W09_K = 5


def _w09_rank() -> F.Column:
    return F.row_number().over(Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), "event_id"))


def _w09_merge(prior: DataFrame, batch: DataFrame) -> DataFrame:
    return (prior.unionByName(batch.select("event_type", "event_id", "value"))
            .withColumn("rk", _w09_rank())
            .filter(F.col("rk") <= _W09_K).drop("rk"))


_W09_FOLD = fold.Fold(
    _w09_merge, "event_type string, event_id bigint, value double")


@register(
    "w09_stream_topk",
    oracle=f"""
    WITH r AS (
      SELECT event_type, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value DESC, event_id) AS rk
      FROM events
    )
    SELECT event_type, CAST(rk AS INT) AS rank, event_id,
           {stable_round_sql('value')} AS value
    FROM r WHERE rk <= {_W09_K}
    """,
    doc="Streaming top-k maintenance: per event type, the k highest-"
        "value events maintained across file-per-trigger batches by a "
        "monoid fold (top-k of union of top-k's), state bounded at "
        "k x |types| rows forever, replay-idempotent via the strictly-"
        "below-batch-id version read. The drained state must equal "
        "the batch top-k over all history — ties broken on event_id "
        "on both sides.",
)
def w09_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    with scratch.workdir("mouse_w09_") as work:
        ev = load(spark, sf_dir, "events").select(
            "event_id", "event_type", "value")
        state = _W09_FOLD.run(
            spark, _chunk_stream(spark, ev, work, 3, "event_id"), work)
        return scratch.keep(
            state.withColumn("rank", _w09_rank().cast("int"))
            .select("event_type", "rank", "event_id",
                    stable_round(F.col("value")).alias("value")))


@register(
    "w10_stream_decontam",
    # s18's registered oracle: one decontamination definition.
    # Streaming/batch parity is the contract; the bloom is an internal
    # pre-filter either way.
    oracle=_REGISTRY["s18_bloom_decontam"].oracle,
    doc="Streaming decontamination gate — the admission check a crawl "
        "ingest runs BEFORE a doc enters the corpus: document chunks "
        "drain one file per trigger; each micro-batch probes the "
        "pre-built 8 KB eval-gram Bloom literal inside its scan stage "
        "and confirms survivors with the exact broadcast semi-join "
        "(s18's two-phase shape per batch — no false positives reach "
        "the sink), appending flagged doc ids. The drained sink must "
        "equal s18's batch answer. Per-trigger cost: the batch's own "
        "grams only; the bloom literal and broadcast eval set are "
        "fixed, history never rescanned.",
)
def w10_stream_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The eval suite is static (production: a fixed benchmark set), so
    # its gram set and Bloom literal are built ONCE batch-side; each
    # micro-batch reuses both. Repartition first: the single-file
    # fixture (and each one-file micro-batch below) arrives as ONE
    # partition, single-threading the tokenize/ngram work otherwise.
    par = spark.sparkContext.defaultParallelism
    grams = F.array_distinct(
        TX.ngrams_from_tokens(TX.tokens(F.col("text")), NGRAM))
    # load_spread (conditional), not d.repartition: the batch-side
    # eval-set build should not force a shuffle on an already-parallel
    # source. The per-BATCH repartition below stays — a micro-batch is
    # one landing file by construction.
    ev = (load_spread(spark, sf_dir, "documents")
          .filter(F.col("doc_id") % EVAL_MOD == 0)
          .select(F.explode(grams).alias("gram"))
          .distinct().localCheckpoint(eager=False))
    blit = bloom.bloom_bits_literal(ev, "gram")

    def probe(batch: DataFrame) -> DataFrame:
        ex = (batch.repartition(par)
              .filter(F.col("doc_id") % EVAL_MOD != 0)
              .select("doc_id", F.explode(grams).alias("gram")))
        cand = ex.filter(bloom.might_contain(blit, "gram"))
        return (cand.join(F.broadcast(ev), "gram", "left_semi")
                .select("doc_id").distinct())

    with scratch.workdir("mouse_w10_") as work:
        # Two chunks = two data triggers: the per-batch gate still runs
        # across multiple triggers (the semantics under test) at the
        # minimum state-store/sink fixed cost.
        stream = _chunk_stream(
            spark, load(spark, sf_dir, "documents").select("doc_id", "text"),
            work, 2, "doc_id")
        sink = str(work / "sink")
        fold.drain(spark, lambda: watcher.run_watcher(
            stream, probe, sink, str(work / "ckpt"),
            available_now=True, dedupe_keys=None))
        # Each doc lives in exactly one chunk, so the union of per-batch
        # hits is already distinct across batches.
        return scratch.keep(spark.read.parquet(sink).select("doc_id"))


@register(
    "w12_stream_running_profile",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
           CAST(epoch_us(MIN(ts)) AS BIGINT) AS first_us,
           CAST(epoch_us(MAX(ts)) AS BIGINT) AS last_us
    FROM events GROUP BY user_id
    """,
    doc="Stateful running per-user profile — event count, distinct "
        "types, first/last event time — maintained across triggers "
        "with INTEGER-ONLY O(1) state (four scalars + a vocabulary-"
        "bounded type csv): bit-exact emissions, no float "
        "accumulation order to drift. Every output column is "
        "monotone, so the drained sink reduces idempotently by "
        "max(n_events) per key and must equal the batch aggregation. "
        "(Authored for Spark 4's transformWithStateInPandas; that API "
        "needs google.protobuf, absent here — streaming/stateful.py "
        "documents the boundary and ships the applyInPandasWithState "
        "equivalent.)",
)
def w12_stream_running_profile(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    with scratch.workdir("mouse_w12_") as work:
        stream = _chunk_stream(
            spark, _events_us(spark, sf_dir, "event_id", "user_id",
                              "event_type"),
            work, 2, "ts_us").select("user_id", "event_type", "ts_us")
        snap = fold.sink(spark, stateful.profile_stream(stream), work)
        final = snap.groupBy("user_id").agg(
            F.max(F.struct("n_events", "n_types", "first_us", "last_us"))
            .alias("b"))
        return scratch.keep(final.select(
            "user_id", F.col("b.n_events").alias("n_events"),
            F.col("b.n_types").alias("n_types"),
            F.col("b.first_us").alias("first_us"),
            F.col("b.last_us").alias("last_us")))


def _w13_merge(prior: DataFrame, batch: DataFrame) -> DataFrame:
    """Fold one batch into the bootstrap state: exact-decimal weighted
    sums per event type — the same mergeable monoid e22 aggregates in
    one pass."""
    # Each micro-batch is one landing file -> one partition; spread
    # the per-row weight work across the executor threads first.
    staged = (batch
              .repartition(batch.sparkSession.sparkContext
                           .defaultParallelism)
              .select("event_type", "value",
                      _e22_weights_col().alias("wts")))
    rows = [F.lit(1).cast("bigint").alias("n"),
            F.col("value").cast(DEC).alias("sv")]
    sums = [F.sum("n").cast("bigint").alias("n"),
            F.sum("sv").cast(DEC).alias("sv")]
    for k in range(_E22_B):
        wk = F.element_at("wts", k + 1)
        rows += [(F.col("value") * wk).cast(DEC).alias(f"sv{k}"),
                 wk.cast("bigint").alias(f"sw{k}")]
        sums += [F.sum(f"sv{k}").cast(DEC).alias(f"sv{k}"),
                 F.sum(f"sw{k}").cast("bigint").alias(f"sw{k}")]
    return (prior.unionByName(staged.select("event_type", *rows))
            .groupBy("event_type").agg(*sums))


_W13_FOLD = fold.Fold(
    _w13_merge, f"event_type string, n bigint, sv {DEC}, " + ", ".join(
        f"sv{k} {DEC}, sw{k} bigint" for k in range(_E22_B)))


@register(
    "w13_stream_bootstrap",
    # e22's oracle: streaming maintenance must land on the identical
    # inference result.
    oracle=_e22_sql(),
    doc="Streaming incremental BOOTSTRAP: e22's 32-replica weighted "
        "sums are exact-decimal monoids, so each micro-batch folds "
        "its partial into a persisted running aggregate (w04's "
        "versioned-state pattern) and the final state yields replica "
        "means and stderr identical to the one-pass batch answer — "
        "statistical inference maintained incrementally at "
        "O(types x replicas) state, no history rescans, no RNG.",
)
def w13_stream_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    with scratch.workdir("mouse_w13_") as work:
        ev = load(spark, sf_dir, "events").select(
            "event_id", "event_type", "value")
        agg = _W13_FOLD.run(
            spark, _chunk_stream(spark, ev, work, 2, "event_id"), work)
        m = agg.selectExpr(
            "event_type", "n",
            "CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) AS mean_v",
            *[f"CAST(sv{k} AS DOUBLE) / CAST(sw{k} AS DOUBLE) AS m{k}"
              for k in range(_E22_B)])
        return scratch.keep(_e22_tail(m))


# --------------------------------------------------------------------------
# w14: streaming SCD-2 dimension maintenance — the streaming face of
# q35's batch SCD-2 story. Each user's event_type is tracked as a
# slowly-changing attribute: every change opens a new version row
# [valid_from, valid_to) and closes the previous one. The state layout
# is the scale design: closed versions are IMMUTABLE history, appended
# as one subdir per batch (per-batch write ∝ the batch's changes),
# while the open-row set (exactly one row per user) rewrites as an
# O(|users|) snapshot. No batch ever rewrites history — at 100 TB the
# closed log is a partitioned append-only table and the open snapshot
# is a small hot table, exactly the lakehouse SCD-2 shape.
#
# Cross-batch ordering: chunks are range-partitioned on ts_us and
# drained oldest-mtime-first (fold.land_chunks), so every batch's
# events are strictly later than all prior batches' — the previous
# open row merges as a pseudo-event at its own valid_from and the
# consecutive-duplicate collapse works unchanged across the boundary.
# --------------------------------------------------------------------------
# Closed and open rows share it; an open row's valid_to is NULL.
_W14_CLOSED_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("tier", T.StringType()),
    T.StructField("valid_from", T.LongType()),
    T.StructField("version_event_id", T.LongType()),
    T.StructField("valid_to", T.LongType()),
])


def _w14_scd2_merge(prior: DataFrame, batch: DataFrame) -> DataFrame:
    """Merge one time-ordered batch into the SCD-2 state: versions
    with a successor are closed."""
    ev = prior.select(
        "user_id", "tier", "valid_from", "version_event_id").unionByName(
        batch.select("user_id", F.col("event_type").alias("tier"),
                     F.col("ts_us").alias("valid_from"),
                     F.col("event_id").alias("version_event_id")))
    w = Window.partitionBy("user_id").orderBy(
        "valid_from", "version_event_id")
    changes = (
        ev.withColumn("prev_tier", F.lag("tier").over(w))
        .filter(F.col("prev_tier").isNull()
                | (F.col("tier") != F.col("prev_tier")))
        .drop("prev_tier"))
    return (changes.withColumn("valid_to", F.lead("valid_from").over(w))
            .withColumn("closed", F.col("valid_to").isNotNull()))


_W14_FOLD = fold.Fold(_w14_scd2_merge, _W14_CLOSED_SCHEMA, closed="closed")


@register(
    "w14_stream_scd2",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type AS tier, epoch_us(ts) AS ts_us, event_id
      FROM events
    ),
    ch AS (
      SELECT user_id, tier, ts_us, event_id,
             LAG(tier) OVER (PARTITION BY user_id
                             ORDER BY ts_us, event_id) AS prev_tier
      FROM e
    ),
    v AS (
      SELECT user_id, tier, event_id AS version_event_id,
             ts_us AS valid_from,
             LEAD(ts_us) OVER (PARTITION BY user_id
                               ORDER BY ts_us, event_id) AS valid_to
      FROM ch WHERE prev_tier IS NULL OR tier <> prev_tier
    )
    SELECT user_id, tier, version_event_id,
           CAST(valid_from AS BIGINT) AS valid_from,
           CAST(COALESCE(valid_to, -1) AS BIGINT) AS valid_to,
           CAST(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS INT)
             AS is_current
    FROM v
    """,
    doc="Streaming SCD-2 maintenance: per-user event_type tracked as a "
        "slowly-changing attribute through time-ordered micro-batches. "
        "foreachBatch appends newly-closed version rows (immutable "
        "history, one subdir per batch) and rewrites only the "
        "one-row-per-user open snapshot — per-batch cost ∝ batch "
        "changes + |users|, never history. Replay-idempotent via the "
        "strictly-below-batch_id state read. The final state must "
        "equal q35-style batch window SQL over the full feed — "
        "streaming/batch parity.",
)
def w14_stream_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    with scratch.workdir("mouse_w14_") as work:
        stream = _chunk_stream(
            spark, _events_us(spark, sf_dir, "event_id", "user_id",
                              "event_type"),
            work, 3, "ts_us")
        state = _W14_FOLD.run(spark, stream, work)
        return scratch.keep(state.select(
            "user_id", "tier", "version_event_id",
            F.col("valid_from").cast("bigint").alias("valid_from"),
            F.coalesce(F.col("valid_to"), F.lit(-1)).cast("bigint")
            .alias("valid_to"),
            F.col("valid_to").isNull().cast("int").alias("is_current")))


# --------------------------------------------------------------------------
# w15: streaming maintenance of the c05 compaction plan — the ingest-
# side face of the OPTIMIZE planner. File-manifest entries arrive in
# file_id order (range-partitioned chunks, oldest-mtime-first) and
# foreachBatch continues each source's greedy running-sum packing from
# a carried per-source byte offset. State layout mirrors w14's SCD-2
# split: bins that can no longer grow (bin < the source's max bin) are
# IMMUTABLE history appended one subdir per batch; only the per-source
# open tail bin (+ its cumulative byte offset) rewrites — per-batch
# cost ∝ batch + |sources|, never the bin history. At 100 TB this is
# exactly how a table service tracks compaction debt behind a
# streaming ingest without rescanning the manifest.
# --------------------------------------------------------------------------
_W15_BIN_SCHEMA = T.StructType([
    T.StructField("source", T.StringType()),
    T.StructField("bin", T.LongType()),
    T.StructField("n", T.LongType()),
    T.StructField("tot", T.LongType()),
    T.StructField("mn", T.LongType()),
    T.StructField("mx", T.LongType()),
])


def _w15_compaction_merge(prior: DataFrame, batch: DataFrame) -> DataFrame:
    """Continue the per-source bin packing over one file_id-ordered
    batch from the open bins in ``prior``; every row carries its
    source's cumulative byte offset ``cum``."""
    # Ordering contract, enforced LOUDLY in-plan (blocked_pairs
    # precedent): every batch file_id must exceed the carried open
    # bin's last file — a late/out-of-order manifest entry would
    # otherwise be packed at the WRONG offset silently. raise_error
    # sits inside the consumed coff column so pruning can't drop it.
    coff = prior.select("source", F.col("cum").alias("coff"),
                        F.col("mx").alias("__last"))
    b = (batch.select("source", "file_id", "sz")
         .join(coff, "source", "left")
         .withColumn(
             "coff",
             F.when(F.col("__last").isNotNull()
                    & (F.col("file_id") <= F.col("__last")),
                    F.raise_error(F.concat(
                        F.lit("w15 ordering contract: file_id "),
                        F.col("file_id").cast("string"),
                        F.lit(" of source "), F.col("source"),
                        F.lit(" arrived after file "),
                        F.col("__last").cast("string"))).cast("bigint"))
             .otherwise(F.coalesce(F.col("coff"), F.lit(0))))
         .drop("__last"))
    w = (Window.partitionBy("source").orderBy("file_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    b = (b.withColumn("cum_before",
                      F.coalesce(F.sum("sz").over(w), F.lit(0))
                      + F.col("coff"))
         .withColumn("bin", F.floor(F.col("cum_before") / _C05_TARGET)
                     .cast("bigint")))
    # The carried open bin merges with batch rows landing in the same
    # bin id; closed bins never re-enter (cum is monotone, so future
    # bin ids are >= the open bin's id).
    bins = (b.select("source", "bin", F.lit(1).cast("bigint").alias("n"),
                     F.col("sz").alias("tot"), F.col("file_id").alias("mn"),
                     F.col("file_id").alias("mx"))
            .unionByName(prior.select("source", "bin", "n", "tot", "mn",
                                      "mx"))
            .groupBy("source", "bin")
            .agg(F.sum("n").cast("bigint").alias("n"),
                 F.sum("tot").cast("bigint").alias("tot"),
                 F.min("mn").cast("bigint").alias("mn"),
                 F.max("mx").cast("bigint").alias("mx")))
    cums = (prior.select("source", "cum")
            .unionByName(b.select("source", F.col("sz").alias("cum")))
            .groupBy("source")
            .agg(F.coalesce(F.sum("cum"), F.lit(0)).cast("bigint")
                 .alias("cum")))
    return bins.join(cums, "source").withColumn(
        "closed",
        F.col("bin") < F.max("bin").over(Window.partitionBy("source")))


_W15_FOLD = fold.Fold(
    _w15_compaction_merge,
    "source string, bin bigint, n bigint, tot bigint, mn bigint, "
    "mx bigint, cum bigint", closed="closed")


@register(
    "w15_stream_compaction",
    # c05's registered oracle: streaming/batch parity.
    oracle=_REGISTRY["c05_compaction_plan"].oracle,
    doc="Streaming compaction-plan maintenance: the c05 OPTIMIZE "
        "bin-packing kept current behind a file-manifest stream. Each "
        "micro-batch continues every source's greedy running-sum pack "
        "from a carried byte offset; bins that can no longer grow "
        "append as immutable per-batch history and only the per-source "
        "open tail bin rewrites. Replay-idempotent via the "
        "strictly-below-batch_id state read. The drained state must "
        "equal the batch c05 plan over the full manifest — "
        "streaming/batch parity (shared oracle).",
)
def w15_stream_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    with scratch.workdir("mouse_w15_") as work:
        m = load(spark, sf_dir, "documents").select(
            "source", F.col("doc_id").alias("file_id"),
            F.length("text").cast("bigint").alias("sz"))
        # Global file_id ranges preserve per-source arrival order across
        # chunks — the ordering contract the carry-forward pack needs.
        state = _W15_FOLD.run(
            spark, _chunk_stream(spark, m, work, 3, "file_id"), work)
        return scratch.keep(state.select(
            "source", "bin",
            F.col("n").alias("n_input_files"),
            F.col("tot").alias("total_bytes"),
            F.col("mn").alias("first_file"),
            F.col("mx").alias("last_file"),
            (F.col("tot") >= _C05_TARGET).alias("full_bin")))


# --------------------------------------------------------------------------
# w16: streaming sliding-HLL maintenance — k05's distinct-users-per-
# trailing-week dashboard kept current behind the event stream. The
# state is the DAILY REGISTER TABLE (days x 64 rows, O(m) per day —
# never per-user state): each micro-batch computes its own daily
# registers and element-wise MAX-merges them in. max is commutative
# and idempotent, so unlike w15 there is NO ordering contract — late
# or replayed data lands correctly by algebra, which is exactly why
# sketch state is the right streaming design for distinct counts at
# 100 TB. Replay-idempotent via the strictly-below-batch_id state
# read; the drained state's trailing-window estimates must equal the
# batch k05 sketch chain over the full feed.
# --------------------------------------------------------------------------
_W16_REG_SCHEMA = T.StructType([
    T.StructField("day", T.DateType()),
    T.StructField("reg", T.IntegerType()),
    T.StructField("max_rho", T.IntegerType()),
])


def _w16_hll_merge(prior: DataFrame, batch: DataFrame) -> DataFrame:
    ev = batch.select(
        F.to_date(F.timestamp_micros(F.col("ts_us"))).alias("day"),
        K.user_hash(F.col("user_id")).alias("uh"))
    return (K.hll_registers(ev, "uh", ["day"]).unionByName(prior)
            .groupBy("day", "reg")
            .agg(F.max("max_rho").alias("max_rho")))


_W16_FOLD = fold.Fold(_w16_hll_merge, _W16_REG_SCHEMA)


def _w16_oracle_sql() -> str:
    reg_expr, rho_expr = K.hll_registers_sql("uh")
    return f"""
    WITH ev AS (
      SELECT CAST(ts AS DATE) AS day,
             {K.user_hash_sql('user_id')} AS uh
      FROM events
    ),
    spine AS (SELECT DISTINCT day FROM ev),
    daily AS (
      SELECT day, {reg_expr} AS reg, MAX({rho_expr}) AS max_rho
      FROM ev GROUP BY 1, 2
    ),
    fan AS (
      SELECT daily.day + CAST(i AS INT) AS day, reg, max_rho
      FROM daily, UNNEST(generate_series(0, 6)) AS g(i)
    ),
    win AS (
      SELECT f.day, f.reg, MAX(f.max_rho) AS max_rho
      FROM fan f JOIN spine s ON f.day = s.day
      GROUP BY 1, 2
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           {stable_round_sql(K.HLL_EST_SQL)} AS hll_est
    FROM win GROUP BY day
    """


@register(
    "w16_stream_sliding_hll",
    oracle=_w16_oracle_sql(),
    doc="Streaming sliding-HLL maintenance: the k05 trailing-7-day "
        "distinct-users dashboard kept current behind the event "
        "stream. State is the daily 64-register sketch table (O(m) per "
        "day, never per-user); each micro-batch MAX-merges its own "
        "daily registers in — max is commutative and idempotent, so "
        "late and replayed data land correctly with NO ordering "
        "contract (the algebraic advantage sketch state has over "
        "w15's prefix-sum state). The drained estimates must equal "
        "the batch sketch chain over the full feed.",
)
def w16_stream_sliding_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    with scratch.workdir("mouse_w16_") as work:
        stream = _chunk_stream(
            spark, _events_us(spark, sf_dir, "event_id", "user_id",
                              "event_type"),
            work, 3, "ts_us")
        daily = _W16_FOLD.run(spark, stream, work)
        spine = daily.select("day").distinct()
        offsets = F.explode(F.array(*[F.lit(i) for i in range(7)])).alias("i")
        fan = daily.select("reg", "max_rho", "day", offsets).select(
            F.date_add("day", F.col("i")).alias("day"), "reg", "max_rho")
        win = (fan.join(F.broadcast(spine), "day")
               .groupBy("day", "reg").agg(F.max("max_rho").alias("max_rho")))
        est = K.hll_estimate(win, ["day"])
        return scratch.keep(est.select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            stable_round(F.col("hll_est_raw")).alias("hll_est")))
