"""Event-stream query catalog over the ``events`` table: tumbling-window
aggregation and gap-based sessionization — the batch twins of the
Structured Streaming surface in ``streaming/`` (SURVEY.md §2.8: the
reference's "streaming" is ingestion-triggered batch, so the same
transformations serve both modes via ``foreachBatch``).

Timestamps: events.parquet stores TIMESTAMP(NANOS); both engines
truncate to microseconds on read (see tables._load_events), so
second-level bucketing below is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mousedatapipeline_spark.functions.rounding import (
    stable_round,
    stable_round_sql,
)
from mousedatapipeline_spark.operators.aggregates import DEC, dsum, dsum_sql
from mousedatapipeline_spark.operators.joins import (
    bucketed_range_join,
    salted_join,
)
from mousedatapipeline_spark.operators.windows import sessionize
from mousedatapipeline_spark.plans.catalog import register
from mousedatapipeline_spark.tables import (
    load,
    load_spread,
    normalize_events_ts,
)


@register(
    "e01_tumbling_counts",
    oracle=f"""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           {stable_round_sql(dsum_sql("value"))} AS value_sum
    FROM events
    GROUP BY 1, 2
    """,
    doc="W-ext: tumbling 1-hour window counts / distinct users / value "
        "sum per event type. In streaming mode the same agg runs under "
        "a watermark (streaming/watcher.py).",
)
def e01_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hourly_counts(load(spark, sf_dir, "events"))


def hourly_counts(ev: DataFrame) -> DataFrame:
    """e01's aggregate over any events frame, also w01's per-batch fold:
    one definition for both sides of the streaming/batch parity. ``ts``
    is normalized first (a no-op on ``tables.load``'s output), since a
    streamed batch arrives in the file's own encoding."""
    return (
        normalize_events_ts(ev)
        .groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")),
                          "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"),
             F.countDistinct("user_id").cast("bigint").alias("n_users"),
             stable_round(dsum("value")).alias("value_sum"))
    )


@register(
    "e02_sessionization",
    oracle="""
    WITH g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS NULL
                  OR CAST(epoch(ts) AS BIGINT)
                     - CAST(epoch(lag(ts) OVER (PARTITION BY user_id
                                                ORDER BY ts, event_id))
                            AS BIGINT) > 1800
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    s AS (
      SELECT user_id,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM g
    )
    SELECT user_id,
           CAST(MAX(session_seq) AS BIGINT) AS n_sessions,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id
    """,
    doc="Gap-based sessionization (30 min): per-user session count via "
        "lag + running sum — two uses of one (user, ts) sort/shuffle.",
)
def e02_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    # Tie-break equal timestamps by event_id so lag() is deterministic.
    sess = sessionize(
        ev.withColumn("ts", F.col("ts")), "user_id", "ts",
        gap_seconds=1800, tiebreak="event_id")
    return sess.groupBy("user_id").agg(
        F.max("session_seq").cast("bigint").alias("n_sessions"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"))


@register(
    "e03_range_join_attribution",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
      FROM events
    ),
    c AS (SELECT event_id, user_id, ts_us FROM e WHERE event_type = 'click'),
    p AS (SELECT user_id, ts_us FROM e WHERE event_type = 'purchase'),
    j AS (
      SELECT c.user_id, c.event_id, COUNT(p.ts_us) AS n_purchases
      FROM c LEFT JOIN p
        ON c.user_id = p.user_id
       AND p.ts_us > c.ts_us
       AND p.ts_us <= c.ts_us + 3600000000::BIGINT
      GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_clicks,
           CAST(SUM(CASE WHEN n_purchases > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_converted,
           CAST(SUM(n_purchases) AS BIGINT) AS n_pairs
    FROM j GROUP BY user_id
    """,
    doc="Interval/range join: click -> purchase attribution within "
        "(t, t+1h] per user, via operators.joins.bucketed_range_join "
        "(time-bucketed equi-join, fan-out <= 2, no nested loop). "
        "Oracle is the plain theta-join SQL.",
)
def e03_range_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    hour_us = 3600 * 1_000_000
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type",
        F.unix_micros("ts").alias("ts_us"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", F.col("ts_us").alias("c_ts"))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts_us").alias("p_ts"))
    pairs = bucketed_range_join(
        clicks, purchases, ["user_id"], "c_ts", "p_ts", 0, hour_us)
    per_click = pairs.groupBy("user_id", "event_id").agg(
        F.count(F.lit(1)).alias("n_purchases"))
    # Left join the (click-sized) counts back so zero-match clicks count.
    out = clicks.join(per_click.select("event_id", "n_purchases"),
                      "event_id", "left").select(
        "user_id",
        F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"))
    return out.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clicks"),
        F.sum((F.col("n_purchases") > 0).cast("int")).cast("bigint")
            .alias("n_converted"),
        F.sum("n_purchases").cast("bigint").alias("n_pairs"))


@register(
    "e04_salted_user_join",
    oracle="""
    WITH prof AS (
      SELECT user_id,
             COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)
                 AS n_purchases
      FROM events GROUP BY user_id
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(p.n_purchases) AS BIGINT) AS sum_user_purchases,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM events e JOIN prof p ON e.user_id = p.user_id
    GROUP BY e.event_type
    """,
    doc="Skew-tolerant join: events (fact) joined to a per-user profile "
        "on user_id — a LOW-cardinality key (150 users), the shape "
        "where a plain shuffle join collapses onto |keys| reducers. "
        "operators.joins.salted_join salts the fact from event_id and "
        "replicates the dim 16x. (At this SF the dim is broadcastable; "
        "the query deliberately pins the salted path, which is the "
        "giant-dim/hot-key fallback when broadcast and AQE both fail.)",
)
def e04_salted_user_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type")
    prof = ev.groupBy("user_id").agg(
        F.count(F.when(F.col("event_type") == "purchase", 1))
            .alias("n_purchases"))
    joined = salted_join(ev, prof, ["user_id"], salt_from="event_id")
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("n_purchases").cast("bigint").alias("sum_user_purchases"),
        F.count_distinct("user_id").cast("bigint").alias("n_users"))


# --------------------------------------------------------------------------
# e05: schema-on-read JSON extraction. Semi-structured props parse
# into typed columns with from_json (malformed rows degrade to NULL,
# counted, never fail the job — the PERMISSIVE contract a 100 TB
# ingest needs). Parsing is a row-local projection (no UDF, no
# shuffle); the only shuffle is the final aggregate.
# --------------------------------------------------------------------------
@register(
    "e05_json_extraction",
    oracle="""
    WITH parsed AS (
      SELECT event_type,
             TRY_CAST(json_extract(props, '$.k') AS BIGINT) AS k
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(k) AS BIGINT) AS n_parsed,
           CAST(MIN(k) AS BIGINT) AS min_k,
           CAST(MAX(k) AS BIGINT) AS max_k,
           CAST(SUM(k) AS BIGINT) AS sum_k
    FROM parsed GROUP BY event_type
    """,
    doc="Schema-on-read over semi-structured JSON props: from_json "
        "with a declared schema (PERMISSIVE — malformed rows become "
        "NULL and are counted, never kill the job), then a typed "
        "aggregate. Parse is a row-local JVM projection; one shuffle "
        "total.",
)
def e05_json_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type",
        F.from_json(F.col("props"), "k BIGINT").getField("k").alias("k"))
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.count("k").cast("bigint").alias("n_parsed"),
        F.min("k").cast("bigint").alias("min_k"),
        F.max("k").cast("bigint").alias("max_k"),
        F.sum("k").cast("bigint").alias("sum_k"))


# --------------------------------------------------------------------------
# e06: funnel analysis — ordered event-sequence matching. The Spark plan
# is ONE shuffle: groupBy(user_id) collects the (ts, type) sequence,
# sort_array orders it, and a JVM higher-order aggregate() folds a
# greedy stage machine over it (no Python UDF, no per-stage self-join).
# Per-user state is bounded (its own event list), so the plan scales
# with users, not with funnel depth. The oracle reaches each stage by
# nested first-match joins — same greedy semantics, relational form.
# Stage advances use STRICT ts comparisons only, so the result is
# independent of intra-timestamp tie order on both engines.
# --------------------------------------------------------------------------
_FUNNEL = ("view", "click", "purchase")


@register(
    "e06_funnel_stages",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
      JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1
        AND e.ts <= v.t1 + INTERVAL 24 HOURS GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
      JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2
        AND e.ts <= c.t2 + INTERVAL 24 HOURS GROUP BY e.user_id
    ),
    stages AS (
      SELECT u.user_id,
             CASE WHEN p.user_id IS NOT NULL THEN 3
                  WHEN c.user_id IS NOT NULL THEN 2
                  WHEN v.user_id IS NOT NULL THEN 1
                  ELSE 0 END AS funnel_stage
      FROM (SELECT DISTINCT user_id FROM events) u
      LEFT JOIN v ON u.user_id = v.user_id
      LEFT JOIN c ON u.user_id = c.user_id
      LEFT JOIN p ON u.user_id = p.user_id
    )
    SELECT funnel_stage, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM stages GROUP BY funnel_stage
    """,
    doc="Funnel analysis (view -> click -> purchase, each stage within "
        "24 hours of the previous): users counted at their deepest greedily-reached "
        "stage. One shuffle on user_id; the stage machine is a JVM "
        "aggregate() fold over each user's time-sorted event sequence.",
)
def e06_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mousedatapipeline_spark.operators.windows import funnel_stage
    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    staged = funnel_stage(ev, "user_id", "ts", "event_type",
                          _FUNNEL, max_gap="24 HOURS")
    return staged.groupBy("funnel_stage").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"))


# --------------------------------------------------------------------------
# e07: cohort retention. Cohort = week of the user's first event; each
# (cohort, week-offset) cell counts users active that week. Two
# shuffles: the per-user window for the first-event week (user_id),
# then the distinct + cell aggregation. Week arithmetic stays on
# week-truncated dates, so the offset is an exact integer on both
# engines.
# --------------------------------------------------------------------------
@register(
    "e07_cohort_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cohort
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, date_trunc('week', e.ts) AS wk
      FROM events e
    )
    SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('day', f.cohort, a.wk) / 7 AS BIGINT)
             AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM firsts f JOIN activity a ON f.user_id = a.user_id
    GROUP BY 1, 2
    """,
    doc="Cohort retention: users bucketed by first-event week, counted "
        "in each subsequent active week. Per-user firsts via one "
        "window over user_id; (user, week) de-dup and the cell "
        "aggregation ride the same exchange family.",
)
def e07_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("user_id", "ts")
    from pyspark.sql import Window
    w = Window.partitionBy("user_id")
    cells = (
        ev.withColumn("cohort",
                      F.date_trunc("week", F.min("ts").over(w)))
        .withColumn("wk", F.date_trunc("week", F.col("ts")))
        .select("user_id", "cohort", "wk")
        .distinct()
    )
    return (cells.groupBy(
        F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
        (F.datediff("wk", "cohort") / 7).cast("bigint")
        .alias("week_offset"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users")))


# --------------------------------------------------------------------------
# e08: sliding time-RANGE window frame — "events in my trailing hour".
# RANGE frames bound by VALUE (here: microseconds of event time), not
# row count, so ties are included symmetrically on both engines and
# the result is deterministic without a tiebreaker. One shuffle on
# user_id serves the frame.
# --------------------------------------------------------------------------
@register(
    "e08_trailing_hour_stats",
    oracle=f"""
    SELECT event_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_trailing_hour,
           CAST(CAST(SUM(CAST(value AS {DEC})) OVER w
                AS VARCHAR) AS DOUBLE) AS value_trailing_hour
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
                           AND CURRENT ROW)
    """,
    doc="Per-event trailing-hour activity: count and exact-decimal "
        "value sum of the same user's events within [t-1h, t]. A "
        "VALUE-bounded RANGE frame (micros of event time), so "
        "same-timestamp peers are always in-frame on both engines — "
        "deterministic with no tiebreak column.",
)
def e08_trailing_hour_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    ev = load(spark, sf_dir, "events").select("event_id", "user_id",
                                              "ts", "value")
    hour_us = 3600 * 1_000_000
    w = (Window.partitionBy("user_id")
         .orderBy(F.unix_micros("ts"))
         .rangeBetween(-hour_us, 0))
    return ev.select(
        "event_id",
        F.count(F.lit(1)).over(w).cast("bigint")
        .alias("n_trailing_hour"),
        F.sum(F.col("value").cast(DEC)).over(w)
        .cast("double").alias("value_trailing_hour"))


# --------------------------------------------------------------------------
# e09: last-observation-carried-forward gap fill. Sensor-style
# cleaning: error events carry no reading; fill each from the user's
# most recent good reading. IGNORE NULLS inside last_value does the
# carry-forward in ONE window pass — no self-join, no groupBy; the
# (ts, event_id) order key is total so the fill source is unique.
# --------------------------------------------------------------------------
@register(
    "e09_locf_gap_fill",
    oracle="""
    SELECT event_id,
           CAST(value_raw IS NULL AS INT) AS was_gap,
           LAST_VALUE(value_raw IGNORE NULLS) OVER w AS value_filled
    FROM (
      SELECT event_id, user_id, ts,
             CASE WHEN event_type = 'error' THEN NULL ELSE value END
               AS value_raw
      FROM events
    )
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    doc="LOCF gap filling: error events (reading = NULL) take the "
        "user's most recent non-null reading via last_value(..., "
        "ignorenulls) over one (user, time) window — single shuffle, "
        "no self-join. Leading gaps (no prior reading) stay NULL.",
)
def e09_locf_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value")
    raw = F.when(F.col("event_type") == "error", F.lit(None)) \
        .otherwise(F.col("value"))
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return ev.select(
        "event_id",
        raw.isNull().cast("int").alias("was_gap"),
        F.last_value(raw, ignoreNulls=True).over(w)
        .alias("value_filled"))


def _e10_oracle_sql() -> str:
    from mousedatapipeline_spark.operators import sketches as K
    reg_expr, rho_expr = K.hll_registers_sql("th")
    return f"""
    WITH h AS (
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
               AS window_start,
             {K.user_hash_sql('user_id', 40503)} AS th,
             user_id
      FROM events
    ),
    reg AS (
      SELECT window_start, {reg_expr} AS reg, MAX({rho_expr}) AS max_rho
      FROM h GROUP BY 1, 2
    ),
    est AS (
      SELECT window_start, {K.HLL_EST_SQL} AS hll_est_raw
      FROM reg GROUP BY window_start
    ),
    ex AS (
      SELECT window_start, CAST(COUNT(DISTINCT user_id) AS BIGINT)
               AS n_exact
      FROM h GROUP BY window_start
    )
    SELECT ex.window_start, ex.n_exact,
           {stable_round_sql('est.hll_est_raw')} AS hll_users
    FROM ex JOIN est ON ex.window_start = est.window_start
    """


@register(
    "e10_hourly_distinct_hll",
    oracle=_e10_oracle_sql(),
    doc="Hourly distinct-user dashboard via HLL registers next to the "
        "exact COUNT DISTINCT: the sketch groupBy partial-aggregates "
        "to <= 64 rows per hour map-side (O(windows x m) total state), "
        "where the exact pass holds per-user state — the windowed form "
        "of k02, the batch form of w06.",
)
def e10_hourly_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mousedatapipeline_spark.operators import sketches as K
    ev = load(spark, sf_dir, "events")
    hour = F.date_format(F.date_trunc("hour", F.col("ts")),
                         "yyyy-MM-dd HH:mm:ss").alias("window_start")
    h = ev.select(
        hour, "user_id",
        K.user_hash(F.col("user_id"), 40503).alias("th"))
    reg = K.hll_registers(h, "th", ["window_start"])
    est = K.hll_estimate(reg, ["window_start"])
    exact = h.groupBy("window_start").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_exact"))
    return (exact.join(F.broadcast(est), "window_start")
            .select("window_start", "n_exact",
                    stable_round(F.col("hll_est_raw")).alias("hll_users")))


@register(
    "e11_conversion_latency",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    p AS (
      SELECT e.user_id,
             CAST(date_diff('microseconds', v.t1, MIN(e.ts)) AS BIGINT)
               AS lat_us
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'purchase' AND e.ts > v.t1
      GROUP BY e.user_id, v.t1
    ),
    r AS (
      SELECT lat_us,
             ROW_NUMBER() OVER (ORDER BY lat_us) AS rn,
             COUNT(*) OVER () AS n
      FROM p
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_converted,
           MAX(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT)
                    THEN lat_us END) AS p50_us,
           MAX(CASE WHEN rn = CAST(CEIL(0.9 * n) AS BIGINT)
                    THEN lat_us END) AS p90_us,
           MAX(CASE WHEN rn = CAST(CEIL(0.99 * n) AS BIGINT)
                    THEN lat_us END) AS p99_us
    FROM r
    """,
    doc="Funnel latency distribution: first view -> first subsequent "
        "purchase per user, exact nearest-rank p50/p90/p99 of the "
        "integer-microsecond latency via bucketed_exact_quantiles: "
        "histogram pass + within-bucket rank selection, so no global "
        "single-partition window ever sees the per-user rows. "
        "Latencies stay integer micros end-to-end, so no float rounding "
        "enters the oracle compare at all.",
)
def e11_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mousedatapipeline_spark.operators.aggregates import (
        bucketed_exact_quantiles,
    )

    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    v = (ev.filter(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("ts").alias("t1")))
    p = (ev.filter(F.col("event_type") == "purchase")
         .join(v, "user_id")
         .filter(F.col("ts") > F.col("t1"))
         .groupBy("user_id", "t1").agg(F.min("ts").alias("t3"))
         .select((F.unix_micros("t3") - F.unix_micros("t1"))
                 .cast("bigint").alias("lat_us")))
    # A global row_number window would funnel every converted user into
    # one task; the bucketed two-pass keeps the rank selection parallel
    # (histogram + within-bucket ranks) with identical nearest-rank
    # semantics — see bucketed_exact_quantiles.
    return bucketed_exact_quantiles(
        p, "lat_us",
        [(0.5, "p50_us"), (0.9, "p90_us"), (0.99, "p99_us")],
        n_alias="n_converted")


@register(
    "e12_event_transitions",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    m AS (
      SELECT prev_type, event_type AS next_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    )
    SELECT prev_type, next_type, n,
           {stable_round_sql(
               'CAST(n AS DOUBLE) / CAST(SUM(n) OVER '
               '(PARTITION BY prev_type) AS DOUBLE)')} AS p
    FROM m
    """,
    doc="Behavioral transition matrix (first-order Markov chain over "
        "per-user event sequences): lag window partitioned by user_id "
        "— per-user state never leaves its partition, so the sequence "
        "pass is one user-keyed shuffle at any event volume — then one "
        "groupBy on the (prev, next) pair. The row-normalizing window "
        "runs on the |event_types|^2-row matrix, never the event "
        "stream. Tie-break on event_id makes the lag order (and hence "
        "the matrix) engine-deterministic.",
)
def e12_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events").select("user_id", "ts",
                                              "event_id", "event_type")
    seq = ev.select(
        "event_type",
        F.lag("event_type").over(
            W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("prev_type"))
    m = (seq.filter(F.col("prev_type").isNotNull())
         .groupBy("prev_type", F.col("event_type").alias("next_type"))
         .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    wp = W.partitionBy("prev_type")
    return m.select(
        "prev_type", "next_type", "n",
        stable_round(F.col("n").cast("double")
                     / F.sum("n").over(wp).cast("double")).alias("p"))


@register(
    "e13_skew_report",
    oracle=f"""
    WITH per_key AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY user_id
    ),
    ranked AS (
      SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, user_id) AS rk
      FROM per_key
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(cnt) AS BIGINT) AS n_events,
           CAST(MAX(cnt) AS BIGINT) AS max_cnt,
           {stable_round_sql(
               'CAST(MAX(cnt) AS DOUBLE) * COUNT(*) '
               '/ CAST(SUM(cnt) AS DOUBLE)')} AS skew_ratio,
           {stable_round_sql(
               'CAST(SUM(CASE WHEN rk <= 10 THEN cnt ELSE 0 END) AS DOUBLE)'
               ' / CAST(SUM(cnt) AS DOUBLE)')} AS top10_share
    FROM ranked
    """,
    doc="Join-key skew diagnostics for the salting decision (the e04 "
        "hot-key fallback is chosen FROM numbers like these): per-key "
        "counts in one shuffle, then key count, max/mean hot-key ratio "
        "and top-10 concentration. The top-10 share comes from a "
        "TakeOrderedAndProject top-k (per-partition heaps, driver "
        "merge of k rows) broadcast back against the global aggregate "
        "— no global-order window at ANY key cardinality, so the plan "
        "has no single-partition stage.",
)
def e13_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("user_id")
    # One shuffle builds per-key counts; it feeds both the global
    # aggregate and the top-k, so materialize it once.
    per_key = (ev.groupBy("user_id")
               .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
               .localCheckpoint(eager=False))  # lazy: the top-10
    # broadcast build is its own job and materializes this before the
    # stats pass (r09 A/B tie, 0.273/0.274 s)
    top10 = (per_key.orderBy(F.col("cnt").desc(), "user_id").limit(10)
             .agg(F.sum("cnt").cast("bigint").alias("top10_cnt")))
    n_keys = F.count(F.lit(1))
    n_events = F.sum("cnt")
    stats = per_key.agg(
        n_keys.cast("bigint").alias("n_keys"),
        n_events.cast("bigint").alias("n_events"),
        F.max("cnt").cast("bigint").alias("max_cnt"))
    return (stats.join(F.broadcast(top10))
            .select("n_keys", "n_events", "max_cnt",
                    stable_round(
                        F.col("max_cnt").cast("double")
                        * F.col("n_keys").cast("double")
                        / F.col("n_events").cast("double"))
                    .alias("skew_ratio"),
                    stable_round(F.col("top10_cnt").cast("double")
                                 / F.col("n_events").cast("double"))
                    .alias("top10_share")))


# Shared manual-sessionization oracle: e14 (batch session_window)
# and w08 (watermarked streaming session_window) both contract to
# equal THIS SQL — one definition so the parity cannot drift.
SESSION_WINDOW_ORACLE_SQL = """
    WITH g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) IS NULL
                  OR epoch_us(ts) - epoch_us(
                       lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id))
                     > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    s AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM g
    )
    SELECT user_id,
           CAST(epoch_us(MIN(ts)) AS BIGINT) AS session_start_us,
           CAST(epoch_us(MAX(ts)) + 1800000000 AS BIGINT)
             AS session_end_us,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, session_seq
    """


@register(
    "e14_native_session_window",
    oracle=SESSION_WINDOW_ORACLE_SQL,
    doc="Native session_window (the built-in Spark operator e02 "
        "hand-rolls with lag + running sum): 30-minute-gap sessions "
        "per user in ONE groupBy — Catalyst's SessionWindow handles "
        "the gap merging, no window-function pass at all. The oracle "
        "is the manual islands construction; session_end follows "
        "Spark's semantics (last event + gap). Same single user-keyed "
        "shuffle, and in streaming mode this exact expression runs "
        "under a watermark with mergeable session state.",
)
def e14_native_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("user_id", "ts")
    sw = F.session_window("ts", "30 minutes")
    return (ev.groupBy(sw, "user_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
            .select("user_id",
                    F.unix_micros("session_window.start").cast("bigint")
                    .alias("session_start_us"),
                    F.unix_micros("session_window.end").cast("bigint")
                    .alias("session_end_us"),
                    "n_events"))


@register(
    "e15_robust_outliers",
    oracle=f"""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_type, e.value, m.med,
             ABS(e.value - m.med) AS adev
      FROM events e JOIN med m ON e.event_type = m.event_type
    ),
    mad AS (
      SELECT event_type, quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           {stable_round_sql('MAX(d.med)')} AS median_value,
           {stable_round_sql('MAX(mad.mad)')} AS mad,
           CAST(COUNT(CASE WHEN d.adev > 3.0 * 1.4826 * mad.mad
                           THEN 1 END) AS BIGINT) AS n_outliers,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM dev d JOIN mad ON d.event_type = mad.event_type
    GROUP BY d.event_type
    """,
    doc="Robust outlier report (median/MAD, the z-score form that a "
        "heavy tail cannot poison): per event type, the exact median, "
        "the median absolute deviation, and the count beyond 3 robust "
        "sigmas (1.4826*MAD). Two grouped exact-percentile passes with "
        "the tiny per-type medians broadcast back between them — the "
        "q25 interpolation parity makes even the float MAD hash-"
        "exact. At open cardinality the same shape runs on "
        "approx_percentile (q33).",
)
def e15_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("med"))
    # Checkpoint: dev feeds the MAD pass AND the final aggregation —
    # without materialization the events scan + median join reruns.
    dev = (ev.join(F.broadcast(med), "event_type")
           .withColumn("adev", F.abs(F.col("value") - F.col("med")))
           .localCheckpoint(eager=False))  # lazy: the MAD broadcast
    # build materializes this before the final agg reads it —
    # sequential consumers (r09 A/B: eager cost 0.55 -> 0.59 s)
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", 0.5).alias("mad"))
    j = dev.join(F.broadcast(mad), "event_type")
    return j.groupBy("event_type").agg(
        stable_round(F.max("med")).alias("median_value"),
        stable_round(F.max("mad")).alias("mad"),
        F.count(F.when(F.col("adev") > 3.0 * 1.4826 * F.col("mad"), 1))
        .cast("bigint").alias("n_outliers"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"))


@register(
    "e16_rolling_active_users",
    oracle="""
    WITH du AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d, user_id
      FROM events
    ),
    days AS (SELECT DISTINCT d FROM du)
    SELECT CAST(strftime(days.d, '%Y-%m-%d') AS VARCHAR) AS day,
           CAST(COUNT(DISTINCT CASE WHEN du.d = days.d
                                    THEN du.user_id END) AS BIGINT)
             AS dau,
           CAST(COUNT(DISTINCT du.user_id) AS BIGINT) AS wau
    FROM days JOIN du
      ON du.d BETWEEN days.d - INTERVAL 6 DAY AND days.d
    GROUP BY days.d
    """,
    doc="Rolling engagement (DAU / trailing-7-day WAU per day): the "
        "(day, user) pairs are deduplicated FIRST (one shuffle, the "
        "only corpus-sized stage), then each pair fans out to at most "
        "7 window anchor days through a bounded range join (broadcast "
        "day spine) — never a distinct-over-sliding-window, which "
        "Spark cannot do incrementally, and never a 7x scan. At "
        "longer windows the same shape degrades gracefully (fan-out = "
        "window days) or flips to per-day HLL register merging (e10).",
)
def e16_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    # Checkpoint: du derives the day spine AND probes the range join —
    # exchange reuse is not guaranteed, and this is the one
    # corpus-sized stage the doc promises runs once.
    du = (ev.select(F.to_date(F.date_trunc("day", "ts")).alias("d"),
                    "user_id")
          .distinct()
          .localCheckpoint(eager=True))  # spine (broadcast build) +
    # range-join probe run in one job (r09 A/B 0.70 -> 0.66 s eager)
    days = du.select("d").distinct() \
        .select(F.col("d").alias("anchor"))
    j = du.join(F.broadcast(days),
                (F.col("d") <= F.col("anchor"))
                & (F.col("d") >= F.date_sub(F.col("anchor"), 6)))
    return (j.groupBy("anchor")
            .agg(F.countDistinct(
                     F.when(F.col("d") == F.col("anchor"),
                            F.col("user_id"))).cast("bigint")
                 .alias("dau"),
                 F.countDistinct("user_id").cast("bigint").alias("wau"))
            .select(F.date_format("anchor", "yyyy-MM-dd").alias("day"),
                    "dau", "wau"))


@register(
    "e17_hourly_anomalies",
    oracle=f"""
    WITH h AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    w AS (
      SELECT event_type, hr, n,
             CAST(COUNT(*) OVER tw AS BIGINT) AS w_n,
             CAST(SUM(n) OVER tw AS BIGINT) AS w_sum,
             CAST(SUM(n * n) OVER tw AS BIGINT) AS w_sumsq
      FROM h
      WINDOW tw AS (PARTITION BY event_type ORDER BY hr
                    ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type,
           strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour,
           n, w_n,
           {stable_round_sql(
               'CAST(w_sum AS DOUBLE) / CAST(w_n AS DOUBLE)')} AS base_mean,
           {stable_round_sql(
               '(CAST(n AS DOUBLE) - CAST(w_sum AS DOUBLE)'
               ' / CAST(w_n AS DOUBLE))'
               ' / SQRT((CAST(w_sumsq AS DOUBLE)'
               ' - CAST(w_sum AS DOUBLE) * CAST(w_sum AS DOUBLE)'
               ' / CAST(w_n AS DOUBLE)) / CAST(w_n - 1 AS DOUBLE)'
               ' + 1.0)')} AS zscore
    FROM w WHERE w_n >= 3
    """,
    doc="Time-series anomaly scores: each hour's event count against "
        "the trailing 6-hour baseline (mean and variance from EXPLICIT "
        "integer window sums — sum, sum-of-squares — so both engines "
        "compute identical IEEE expressions; built-in stddev "
        "implementations differ in summation order). +1 variance "
        "floor keeps flat baselines finite. The rolling window runs "
        "on the hourly aggregate (|types| x |hours| rows), never the "
        "event stream; warm-up hours (fewer than 3 baseline points) "
        "are excluded.",
)
def e17_hourly_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events")
    h = (ev.groupBy("event_type",
                    F.date_trunc("hour", "ts").alias("hr"))
         .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    tw = W.partitionBy("event_type").orderBy("hr").rowsBetween(-6, -1)
    w = h.select(
        "event_type", "hr", "n",
        F.count(F.lit(1)).over(tw).cast("bigint").alias("w_n"),
        F.sum("n").over(tw).cast("bigint").alias("w_sum"),
        F.sum(F.col("n") * F.col("n")).over(tw).cast("bigint")
        .alias("w_sumsq"))
    mean = F.col("w_sum").cast("double") / F.col("w_n").cast("double")
    var = ((F.col("w_sumsq").cast("double")
            - F.col("w_sum").cast("double") * F.col("w_sum").cast("double")
            / F.col("w_n").cast("double"))
           / (F.col("w_n") - 1).cast("double"))
    return (w.filter(F.col("w_n") >= 3)
            .select("event_type",
                    F.date_format("hr", "yyyy-MM-dd HH:mm:ss")
                    .alias("hour"),
                    "n", "w_n",
                    stable_round(mean).alias("base_mean"),
                    stable_round((F.col("n").cast("double") - mean)
                                 / F.sqrt(var + 1.0)).alias("zscore")))


@register(
    "e18_time_rollup",
    oracle=f"""
    WITH base AS (
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hr,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS dy,
             event_type, value
      FROM events
    ),
    long AS (
      SELECT 'hour' AS grain, hr AS bucket, event_type, value FROM base
      UNION ALL
      SELECT 'day', dy, event_type, value FROM base
    )
    SELECT grain, bucket, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {stable_round_sql(dsum_sql("value"))} AS value_sum
    FROM long GROUP BY grain, bucket, event_type
    """,
    doc="Multi-granularity time rollup: hourly AND daily aggregates of "
        "one event scan via GROUPING SETS over the two precomputed "
        "bucket columns — one Expand + one aggregation pass, never "
        "two reads (the oracle spells the UNION; Spark's plan is the "
        "single-scan form, the q36 discipline applied to time). The "
        "dashboard query family served by one job.",
)
def e18_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss")
        .alias("hr"),
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
        .alias("dy"),
        "event_type", "value")
    g = base.groupingSets([["hr", "event_type"], ["dy", "event_type"]],
                          "hr", "dy", "event_type")
    agg = g.agg(F.count(F.lit(1)).cast("bigint").alias("n_events"),
                stable_round(dsum("value")).alias("value_sum"))
    return agg.select(
        F.when(F.col("hr").isNotNull(), F.lit("hour"))
        .otherwise(F.lit("day")).alias("grain"),
        F.coalesce("hr", "dy").alias("bucket"),
        "event_type", "n_events", "value_sum")


@register(
    "e19_weekly_churn",
    oracle="""
    WITH wu AS (
      SELECT DISTINCT CAST(date_trunc('week', ts) AS DATE) AS wk, user_id
      FROM events
    ),
    weeks AS (SELECT DISTINCT wk FROM wu)
    SELECT strftime(w.wk, '%Y-%m-%d') AS week,
           CAST(COUNT(cur.user_id) AS BIGINT) AS n_active,
           CAST(COUNT(CASE WHEN prev.user_id IS NULL
                           THEN cur.user_id END) AS BIGINT) AS n_new,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM wu p
            WHERE p.wk = w.wk - INTERVAL 7 DAY
              AND NOT EXISTS (SELECT 1 FROM wu c
                              WHERE c.wk = w.wk
                                AND c.user_id = p.user_id))
             AS n_churned
    FROM weeks w
    LEFT JOIN wu cur ON cur.wk = w.wk
    LEFT JOIN wu prev ON prev.wk = w.wk - INTERVAL 7 DAY
                     AND prev.user_id = cur.user_id
    GROUP BY w.wk
    """,
    doc="Week-over-week retention accounting: per week, active users, "
        "users newly absent from the previous week (churned) and users "
        "present now but not before (new) — the anti-join pair every "
        "growth dashboard runs. The (week, user) pairs deduplicate "
        "once (the only corpus-sized stage); the three counts come "
        "from self-joins of that per-week roster keyed on (week, "
        "user), each shuffle bounded by the roster, not the events.",
)
def e19_weekly_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    wu = (ev.select(F.to_date(F.date_trunc("week", "ts")).alias("wk"),
                    "user_id")
          .distinct()
          .localCheckpoint(eager=False))  # three consumers below —
    # kept lazy: the act agg's shuffle materializes the roster before
    # the churn branch reads it (r09 A/B: eager cost 0.47 -> 0.52 s)
    cur = wu.select("wk", "user_id")
    prev = wu.select(F.date_add("wk", 7).alias("wk"),
                     F.col("user_id"), F.lit(1).alias("was_prev"))
    act = (cur.join(prev, ["wk", "user_id"], "left")
           .groupBy("wk")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_active"),
                F.count(F.when(F.col("was_prev").isNull(), 1))
                .cast("bigint").alias("n_new")))
    churn = (wu.select(F.date_add("wk", 7).alias("wk"), "user_id")
             .join(cur.withColumn("still", F.lit(1)),
                   ["wk", "user_id"], "left")
             .filter(F.col("still").isNull())
             .groupBy("wk")
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_churned")))
    weeks = wu.select("wk").distinct()
    return (weeks.join(act, "wk", "left").join(churn, "wk", "left")
            .select(F.date_format("wk", "yyyy-MM-dd").alias("week"),
                    F.coalesce("n_active", F.lit(0)).cast("bigint")
                    .alias("n_active"),
                    F.coalesce("n_new", F.lit(0)).cast("bigint")
                    .alias("n_new"),
                    F.coalesce("n_churned", F.lit(0)).cast("bigint")
                    .alias("n_churned")))


@register(
    "e20_decayed_engagement",
    oracle=f"""
    WITH anchor AS (SELECT MAX(CAST(ts AS DATE)) AS d0 FROM events),
    sc AS (
      SELECT user_id,
             value / CAST(1::BIGINT << LEAST(
                 date_diff('day', CAST(ts AS DATE),
                           (SELECT d0 FROM anchor)), 52) AS DOUBLE)
               AS dv
      FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {stable_round_sql(dsum_sql("dv"))} AS engagement
    FROM sc GROUP BY user_id
    """,
    doc="Recency-weighted engagement score — the decay-weighted signal "
        "sampling/curriculum decisions consume: per user, sum of "
        "event values halved per day of age against the corpus max "
        "date. The decay is 2^-age via an integer shift (capped at "
        "52), so each weighted term is an EXACT power-of-two scaling "
        "of the input double — no libm exp, bit-identical across "
        "engines; sums go through the decimal accumulator. One 1-row "
        "anchor broadcast + one groupBy(user_id).",
)
def e20_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id", "value", F.to_date("ts").alias("d"))
    anchor = ev.agg(F.max("d").alias("d0"))
    # F.shiftleft only accepts a literal bit count, so the column-typed
    # shift goes through the SQL form — the single decay definition.
    cap = 52
    dv = F.col("value") / F.expr(
        f"CAST(shiftleft(CAST(1 AS BIGINT), "
        f"least(datediff(d0, d), {cap})) AS DOUBLE)")
    sc = ev.join(F.broadcast(anchor)).select("user_id", dv.alias("dv"))
    return sc.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        stable_round(dsum("dv")).alias("engagement"))


@register(
    "e21_sequence_anomaly",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    tr AS (SELECT user_id, prev_type, event_type AS next_type
           FROM seq WHERE prev_type IS NOT NULL),
    m AS (
      SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS n_pair
      FROM tr GROUP BY prev_type, next_type
    ),
    tot AS (
      SELECT prev_type, CAST(SUM(n_pair) AS BIGINT) AS n_prev FROM m
      GROUP BY prev_type
    ),
    scored AS (
      SELECT tr.user_id,
             LN(CAST(tot.n_prev AS DOUBLE))
               - LN(CAST(m.n_pair AS DOUBLE)) AS nll
      FROM tr JOIN m ON tr.prev_type = m.prev_type
                    AND tr.next_type = m.next_type
              JOIN tot ON tr.prev_type = tot.prev_type
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_transitions,
           {stable_round_sql(
               dsum_sql("nll") + " / CAST(COUNT(*) AS DOUBLE)")}
             AS mean_nll
    FROM scored GROUP BY user_id
    """,
    doc="Behavioral sequence anomaly score: each user's event stream "
        "scored under the corpus first-order transition model (e12's "
        "matrix) — mean negative log-likelihood of their transitions. "
        "High scorers follow paths the population rarely takes (bot / "
        "scraper / abuse triage); the matrix is |types|^2 rows "
        "broadcast back to the transition stream, the per-user mean "
        "uses the decimal accumulator (t14's sum-of-logs parity "
        "pattern), and the only corpus-sized shuffles are the "
        "sessionizing window and the final groupBy(user).",
)
def e21_sequence_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (ev.select("user_id", F.col("event_type").alias("next_type"),
                    F.lag("event_type").over(w).alias("prev_type"))
          .filter(F.col("prev_type").isNotNull())
          .localCheckpoint(eager=True))  # matrix AND scoring stream
    # consume the lag window concurrently (r09 A/B 0.72 -> 0.68 s)
    m = tr.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pair"))
    tot = m.groupBy("prev_type").agg(
        F.sum("n_pair").cast("bigint").alias("n_prev"))
    nll = (F.log(F.col("n_prev").cast("double"))
           - F.log(F.col("n_pair").cast("double")))
    scored = (tr.join(F.broadcast(m), ["prev_type", "next_type"])
              .join(F.broadcast(tot), "prev_type")
              .select("user_id", nll.alias("nll")))
    n = F.count(F.lit(1))
    return scored.groupBy("user_id").agg(
        n.cast("bigint").alias("n_transitions"),
        stable_round(dsum("nll") / n.cast("double")).alias("mean_nll"))


# --------------------------------------------------------------------------
# e22: bootstrap inference at scale — the error bar every corpus
# metric should carry. Classic bootstrap resamples the dataset B
# times (B passes, driver-side RNG — both non-starters at 100 TB);
# the online/Poisson-weighted bootstrap (Oza & Russell's online
# bagging) instead gives every ROW a deterministic per-replica weight
# and folds all B replicas into ONE aggregation pass with 2B
# map-side-combinable sums. Weights derive from integer hash
# arithmetic on (event_id, replica) — identical in both engines, so
# the oracle reproduces every replica exactly. E[w]=1 (w in {0,1,2}
# with p = 1/4, 1/2, 1/4), approximating Poisson(1) resampling.
# --------------------------------------------------------------------------
_E22_B = 32  # bootstrap replicas
_E22_P = 2147483647  # 2^31 - 1; Mersenne prime hash modulus


def _e22_weight(k: int):
    """Replica-k bootstrap weight (shared with the streaming twin w13).

    Modulo-first arithmetic: ``(e*C + k) % P`` is computed as
    ``((e%P) * (C%P)) % P + k) % P`` — identical results for every
    ``event_id >= 0`` (congruence mod P), but the largest intermediate
    is (P-1)^2 ~ 4.6e18 < 2^63-1, so it can never wrap BIGINT no
    matter the id magnitude (the naive form silently wraps beyond
    event_id ~ 1.3e8 with ANSI off while DuckDB raises). Negative ids
    fail loudly in both engines instead of diverging on truncated-mod
    sign conventions.
    """
    c = ((2 * k + 3) * 1103515245) % _E22_P
    e = F.col("event_id")
    h = (((e % _E22_P) * c) % _E22_P + k) % _E22_P % 4
    hg = F.when(e >= 0, h).otherwise(F.raise_error(F.concat(
        F.lit("e22 bootstrap weight: negative event_id "),
        e.cast("string"))))
    return (F.when(hg == 0, F.lit(0))
            .when(hg == 1, F.lit(2)).otherwise(F.lit(1)))


def _e22_weights_col():
    """All ``_E22_B`` replica weights as ONE ``array<int>`` column.

    Value-identical to ``[_e22_weight(k) for k in range(B)]`` (same
    modulo-first hash, same negative-id raise), but built as a single
    ``transform`` over a literal multiplier array, so (a) the Python
    expression build is O(1) py4j calls instead of O(B) deep CASE
    trees (~3 s of driver time at B=32), and (b) the guarded hash
    base evaluates once per (row, replica) in one small codegen'd
    lambda instead of 4x per replica per aggregate reference — the
    64-aggregate form produced a CASE forest large enough to fall
    out of whole-stage codegen (measured ~2.4 s/50k rows; the array
    form is ~60 ms). Consumers stage this in a SELECT and aggregate
    cheap ``element_at`` references.
    """
    e = F.col("event_id")
    cs = F.array(*[
        F.lit(((2 * k + 3) * 1103515245) % _E22_P)
        for k in range(_E22_B)])
    em = F.when(e >= 0, e % _E22_P).otherwise(F.raise_error(F.concat(
        F.lit("e22 bootstrap weight: negative event_id "),
        e.cast("string"))))

    def w(c, i):
        h = ((em * c) % _E22_P + i.cast("bigint")) % _E22_P % 4
        return (F.when(h == 0, F.lit(0))
                .when(h == 1, F.lit(2)).otherwise(F.lit(1)))

    return F.transform(cs, w)


def _e22_tail(m: DataFrame) -> DataFrame:
    """Replica means -> (mean, bootstrap stderr); shared with w13.

    ``m`` has columns event_type, n, mean_v, m0..m{B-1} (doubles).
    The mbar/variance chains are built as ONE parsed SQL expression
    (left-associated, the same float op order as the former py4j
    loop — bit-identical results, ~300 fewer driver round-trips).
    """
    mbar = "(" + " + ".join(f"m{k}" for k in range(_E22_B)) + ")"
    c = m.selectExpr(
        "*", f"{mbar} / {float(_E22_B)} AS mbar")
    var = " + ".join(
        f"(m{k} - mbar) * (m{k} - mbar)" for k in range(_E22_B))
    return c.select(
        "event_type", "n",
        stable_round(F.col("mean_v")).alias("mean_value"),
        stable_round(
            F.expr(f"SQRT(({var}) / {float(_E22_B - 1)})"))
        .alias("boot_stderr"))




def _e22_w_sql(k: int) -> str:
    c = ((2 * k + 3) * 1103515245) % _E22_P
    h = (f"((((event_id % {_E22_P}) * {c}) % {_E22_P} + {k}) "
         f"% {_E22_P}) % 4")
    hg = (f"CASE WHEN event_id >= 0 THEN {h} ELSE CAST(error("
          f"'e22 bootstrap weight: negative event_id ' || event_id) "
          f"AS BIGINT) END")
    return f"CASE {hg} WHEN 0 THEN 0 WHEN 1 THEN 2 ELSE 1 END"


def _e22_sql() -> str:
    aggs = ", ".join(
        dsum_sql(f"value * ({_e22_w_sql(k)})") + f" AS sv{k}, "
        f"CAST(SUM({_e22_w_sql(k)}) AS BIGINT) AS sw{k}"
        for k in range(_E22_B))
    ms = ", ".join(
        f"sv{k} / CAST(sw{k} AS DOUBLE) AS m{k}" for k in range(_E22_B))
    mbar_chain = "m0"
    for k in range(1, _E22_B):
        mbar_chain = f"({mbar_chain} + m{k})"
    var_chain = "(m0 - mbar) * (m0 - mbar)"
    for k in range(1, _E22_B):
        var_chain = f"({var_chain} + (m{k} - mbar) * (m{k} - mbar))"
    return f"""
    WITH agg AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             {dsum_sql("value")} AS sv,
             {aggs}
      FROM events GROUP BY event_type
    ),
    m AS (
      SELECT event_type, n, sv / CAST(n AS DOUBLE) AS mean_v, {ms}
      FROM agg
    ),
    c AS (
      SELECT event_type, n, mean_v,
             {mbar_chain} / {float(_E22_B)} AS mbar,
             {', '.join(f'm{k}' for k in range(_E22_B))}
      FROM m
    )
    SELECT event_type, n,
           {stable_round_sql('mean_v')} AS mean_value,
           {stable_round_sql(
               f'SQRT(({var_chain}) / {float(_E22_B - 1)})')}
             AS boot_stderr
    FROM c
    """


@register(
    "e22_bootstrap_stderr",
    oracle=_e22_sql(),
    doc="Bootstrap standard error for the per-type mean event value "
        "via the online (Poisson-weighted) bootstrap: 32 deterministic "
        "hash-weighted replicas folded into ONE aggregation pass (64 "
        "map-side-combinable sums), replica means and their stddev "
        "derived row-locally from the aggregate — B-replica inference "
        "at the cost of one scan, no RNG, no repeated passes. The "
        "error bar every corpus-level quality metric should ship "
        "with; weights are integer arithmetic on (event_id, replica), "
        "so the oracle reproduces every replica exactly.",
)
def e22_bootstrap_stderr(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Weights staged once per row as an array column; the aggregate
    # references are plain element_at lookups (see _e22_weights_col).
    # The single-file local fixture arrives as ONE partition; spread
    # the per-row weight work before the (map-side-combined) agg.
    ev = (load_spread(spark, sf_dir, "events")
          .select("event_type", "value",
                  _e22_weights_col().alias("wts")))
    aggs = []
    for k in range(_E22_B):
        wk = F.element_at("wts", k + 1)
        aggs.append(dsum(F.col("value") * wk, f"sv{k}"))
        aggs.append(F.sum(wk).cast("bigint").alias(f"sw{k}"))
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        dsum("value", "sv"),
        *aggs)
    m = agg.selectExpr(
        "event_type", "n", "sv / CAST(n AS DOUBLE) AS mean_v",
        *[f"sv{k} / CAST(sw{k} AS DOUBLE) AS m{k}"
          for k in range(_E22_B)])
    return _e22_tail(m)


@register(
    "e25_behavioral_entropy",
    oracle=f"""
    WITH c AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY user_id, event_type
    ),
    t AS (
      SELECT user_id, CAST(SUM(n) AS BIGINT) AS tot,
             CAST(COUNT(*) AS BIGINT) AS n_types
      FROM c GROUP BY user_id
    ),
    s AS (
      SELECT c.user_id, t.tot, t.n_types,
             (CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE))
               * (LN(CAST(t.tot AS DOUBLE)) - LN(CAST(c.n AS DOUBLE)))
               AS term
      FROM c JOIN t ON c.user_id = t.user_id
    )
    SELECT user_id,
           CAST(MAX(tot) AS BIGINT) AS n_events,
           CAST(MAX(n_types) AS BIGINT) AS n_types,
           {stable_round_sql(
               'CAST(CAST(SUM(CAST(term AS DECIMAL(30,20)))'
               ' AS VARCHAR) AS DOUBLE)')} AS entropy
    FROM s GROUP BY user_id
    """,
    doc="Behavioral diversity: Shannon entropy of each user's "
        "event-type distribution — near 0 flags single-action "
        "automation (scrapers hammering one endpoint), near ln(T) is "
        "organic breadth; with e21's sequence anomaly these two are "
        "the standard bot-triage axes. One (user, type) groupBy, a "
        "per-user rollup, and a broadcast-free join back; entropy "
        "terms sum through the decimal accumulator (the established "
        "sum-of-logs parity pattern).",
)
def e25_behavioral_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("user_id", "event_type")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"))
    t = c.groupBy("user_id").agg(
        F.sum("n").cast("bigint").alias("tot"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"))
    s = (c.join(t, "user_id")
         .select("user_id", "tot", "n_types",
                 ((F.col("n").cast("double") / F.col("tot").cast("double"))
                  * (F.log(F.col("tot").cast("double"))
                     - F.log(F.col("n").cast("double")))).alias("term")))
    return s.groupBy("user_id").agg(
        F.max("tot").cast("bigint").alias("n_events"),
        F.max("n_types").cast("bigint").alias("n_types"),
        stable_round(F.sum(F.col("term").cast("decimal(30,20)"))
                     .cast("double")).alias("entropy"))


# --------------------------------------------------------------------------
# e26: deletion propagation (the GDPR / right-to-be-forgotten pass): a
# tombstone set of users must vanish from the fact table AND from every
# derived aggregate, with an audit trail. The Spark side maintains the
# derived per-type aggregate by DELTA SUBTRACTION — one scan computes
# both the total and the tombstoned contribution as decimal sums, and
# remaining = total - deleted (exact in decimal: all three sums are
# sums of the same 10-dp-rounded per-row terms, so subtraction loses
# nothing). The oracle FULLY RECOMPUTES over the anti-joined remainder
# — the hash match proves the delta algebra, not just the arithmetic,
# the same method-vs-method contract as q45. Tombstones broadcast; the
# fact scans once; at 100 TB the delta path touches the deleted rows'
# mass, never rebuilds history.
# --------------------------------------------------------------------------
@register(
    "e26_deletion_propagation",
    oracle=f"""
    WITH tomb AS (
      SELECT DISTINCT user_id FROM events WHERE user_id % 97 = 0
    ),
    deleted AS (
      SELECT e.* FROM events e JOIN tomb t ON e.user_id = t.user_id
    ),
    remaining AS (
      SELECT e.* FROM events e ANTI JOIN tomb t ON e.user_id = t.user_id
    ),
    d AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS rows_deleted,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users_deleted,
             CAST(SUM(CAST(value AS {DEC})) AS {DEC}) AS vdel
      FROM deleted GROUP BY event_type
    ),
    r AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS rows_remaining,
             CAST(SUM(CAST(value AS {DEC})) AS {DEC}) AS vrem
      FROM remaining GROUP BY event_type
    )
    SELECT r.event_type,
           COALESCE(d.rows_deleted, 0) AS rows_deleted,
           COALESCE(d.users_deleted, 0) AS users_deleted,
           r.rows_remaining,
           {stable_round_sql(
               "CAST(CAST(COALESCE(d.vdel, 0) AS VARCHAR) AS DOUBLE)")}
             AS value_deleted,
           {stable_round_sql(
               "CAST(CAST(r.vrem AS VARCHAR) AS DOUBLE)")}
             AS value_remaining
    FROM r LEFT JOIN d ON r.event_type = d.event_type
    """,
    doc="Deletion propagation (GDPR right-to-be-forgotten): a tombstone "
        "user set (user_id % 97 = 0) is purged from the events fact and "
        "from the per-type derived aggregate. The engine maintains the "
        "aggregate by delta subtraction (one scan: total and tombstoned "
        "decimal sums; remaining = total - deleted, exact in decimal) "
        "while the oracle fully recomputes over the anti-joined "
        "remainder — the hash match proves refresh-by-delta equals "
        "rebuild, q45's contract for deletes. Tombstones broadcast; "
        "audit columns report deleted rows/users/value per type.",
)
def e26_deletion_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "value")
    # Tombstones are a USER-derived set (~1% of users) — unbounded at
    # 100 TB, so the broadcast hint is size-gated on the materialized
    # set (VERDICT r10 #4): local plan unchanged (a handful of rows),
    # at scale the mark join degrades to AQE's runtime choice.
    from mousedatapipeline_spark.tables import fits_broadcast
    tomb = (ev.filter(F.col("user_id") % 97 == 0)
            .select("user_id").distinct()
            .withColumn("__del", F.lit(1))
            .localCheckpoint(eager=True))
    marked = ev.join(F.broadcast(tomb) if fits_broadcast(tomb) else tomb,
                     "user_id", "left")
    is_del = F.col("__del").isNotNull()
    zero = F.lit(0).cast(DEC)
    # NO distinct in the full-fact pass: a mixed distinct/plain agg
    # expands to a two-phase plan keyed (event_type, user_id) — a
    # full-data shuffle. The distinct-user audit runs on the DELETED
    # subset only (tombstone mass, ~1% of rows at scale).
    agg = marked.groupBy("event_type").agg(
        F.sum(is_del.cast("int")).cast("bigint").alias("rows_deleted"),
        (F.count(F.lit(1)) - F.sum(is_del.cast("int")))
        .cast("bigint").alias("rows_remaining"),
        F.coalesce(F.sum(F.when(is_del, F.col("value").cast(DEC))),
                   zero).alias("vdel"),
        F.coalesce(F.sum(F.col("value").cast(DEC)), zero).alias("vtot"))
    dusers = (marked.filter(is_del)
              .select("event_type", "user_id").distinct()
              .groupBy("event_type")
              .agg(F.count(F.lit(1)).cast("bigint")
                   .alias("users_deleted")))
    return (agg.join(F.broadcast(dusers), "event_type", "left")
            .filter(F.col("rows_remaining") > 0)
            .select("event_type", "rows_deleted",
                    F.coalesce(F.col("users_deleted"), F.lit(0))
                    .cast("bigint").alias("users_deleted"),
                    "rows_remaining",
                    stable_round(F.col("vdel").cast("double"))
                    .alias("value_deleted"),
                    stable_round((F.col("vtot") - F.col("vdel"))
                                 .cast("double"))
                    .alias("value_remaining")))
