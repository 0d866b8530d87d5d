"""Test-table loaders for the driver-provided synthetic star schema.

Tables (one parquet each, see TESTDATA.md): region nation customer
supplier part orders lineitem events documents embeddings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    if name == "events":
        return _load_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_spread(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``load`` + round-robin repartition to the cluster's parallelism.

    For queries that do per-row-EXPENSIVE work right off the scan
    (tokenize/ngram/explode over text): the local fixture is a single
    parquet file -> ONE input partition, which single-threads the scan
    stage. The repartition shuffles the raw rows once (small — it is
    the raw table, pre-explosion, strictly cheaper than the
    post-explosion shuffle these queries already pay) and buys full
    parallelism for the expensive projection.

    Conditional on the scan's ESTIMATED split count: on a real cluster
    the source is already many splits and this returns the plain scan
    — an unconditional repartition would be a pure-overhead shuffle of
    the whole corpus at 100 TB. Metadata-only queries should use plain
    :func:`load` and keep their one-stage scan.

    The estimate comes from the scan's own file manifest
    (``df.inputFiles()`` sizes run through Spark's FilePartition
    bin-packing formula, see :func:`_estimated_scan_splits`) — NOT
    ``df.rdd.getNumPartitions()``,
    which forces a DataFrame→RDD plan conversion per call and tracks
    the transient core count under dynamic allocation, so the same
    query could get different physical plans across invocations
    (ADVICE r05).  The spread target is ``spark.sql.shuffle.partitions``
    — a stable session config — for the same reason.
    """
    df = load(spark, sf_dir, name)
    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if _estimated_scan_splits(spark, df, target) >= target:
        return df
    return df.repartition(target)


def _estimated_scan_splits(spark: SparkSession, df: DataFrame,
                           parallelism: int) -> int:
    """Estimate of the scan's input partitions, from file metadata only,
    modeling Spark's FilePartition planning: splittable files are cut
    into chunks of at most ``maxSplitBytes``, each chunk weighs
    ``size + openCostInBytes``, and chunks are bin-packed into
    partitions of at most ``maxSplitBytes`` total weight, where

        maxSplitBytes = min(maxPartitionBytes,
                            max(openCostInBytes, totalWeight / cores))

    The ``/ cores`` term is why neither of the two naive estimators
    works (code-review r06 + the load_spread plan test): counting one
    split per file over-estimates when files are tiny relative to
    maxPartitionBytes AND numerous relative to the core count (Spark
    packs them), while ``ceil(total / maxPartitionBytes)`` ignores that
    Spark SHRINKS the split size to keep every core busy on small
    totals (36 tiny files on 32 cores really do scan as 36 partitions,
    not 2).  For ``cores`` we use the caller's spread target
    (``spark.sql.shuffle.partitions``) — a stable session config —
    rather than ``defaultParallelism``, which is transient under
    dynamic allocation (ADVICE r05).  Files whose size can't be
    statted locally (remote schemes) contribute only their open cost;
    with lumpy chunks the packing bound below is a lower bound, so
    uncertainty errs toward spreading."""
    import os
    from urllib.parse import urlparse

    files = df.inputFiles()
    if not files:
        return 0
    max_bytes = _parse_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"),
        default=134217728)
    open_cost = _parse_bytes(
        spark.conf.get("spark.sql.files.openCostInBytes", "4194304"),
        default=4194304)
    sizes = []
    for f in files:
        parsed = urlparse(f)
        if parsed.scheme in ("", "file") and os.path.exists(parsed.path):
            sizes.append(os.path.getsize(parsed.path))
        else:
            sizes.append(0)
    total = sum(sizes) + open_cost * len(sizes)
    # Clamp to >= 1: with openCostInBytes=0 and all-unstattable files
    # total is 0, and an unclamped split of 0 would divide by zero
    # below — a bad estimate must never abort the query (ADVICE r06).
    max_split = max(1, min(max_bytes,
                           max(open_cost,
                               -(-total // max(1, parallelism)))))
    chunks = sum(max(1, -(-s // max_split)) for s in sizes)
    return min(chunks, max(1, -(-total // max_split)))


def _parse_bytes(v: str, default: int = 134217728) -> int:
    """'134217728', '134217728b', '128m'/'128MB', '1g', '1t' → bytes.

    Mirrors Spark's JavaUtils.byteStringAs suffix set (b/k/m/g/t/p,
    with optional trailing 'b').  Unparseable input degrades to
    ``default`` instead of raising — a bad estimate must never abort
    the query it was sizing (code-review r06).  Non-positive results
    ('0', '-128m') degrade to ``default`` too: a zero or negative
    split size would poison the estimator's min/max/ceil arithmetic
    downstream (ADVICE r06)."""
    s = str(v).strip().lower()
    mult = 1
    for suffix, m in (("kb", 1024), ("mb", 1024**2), ("gb", 1024**3),
                      ("tb", 1024**4), ("pb", 1024**5),
                      ("k", 1024), ("m", 1024**2), ("g", 1024**3),
                      ("t", 1024**4), ("p", 1024**5),
                      ("b", 1)):
        if s.endswith(suffix):
            s = s[: -len(suffix)]
            mult = m
            break
    try:
        n = int(s) * mult
    except ValueError:
        return default
    return n if n > 0 else default


def pin_partitioned(df: DataFrame, keys: "list[str] | tuple[str, ...]",
                    sort: bool = True,
                    partitions: int | None = None) -> DataFrame:
    """Materialize ``df`` hash-partitioned by ``keys`` (and sorted
    within partitions) so that every downstream equi-join or
    aggregation on the same keys skips its Exchange (and, with
    ``sort``, its Sort) — the in-memory analogue of a bucketed table
    (optimization guide §2.4: two operations keyed the same way share
    one exchange; §2.2: iterative consumers otherwise re-shuffle the
    pinned table once per round).

    This is the layout contract for ITERATED tables: connected
    components / PageRank / label propagation join the edge list every
    round, and an unpinned layout pays O(rounds x |E|) shuffle bytes
    where this pays O(|E|) once — the dominant term at 100 TB, where
    |E| >> |V| and the per-round label tables are the only thing left
    to move.

    Mechanics: ``localCheckpoint`` records the physical plan's
    ``outputPartitioning``/``outputOrdering`` in the resulting
    LogicalRDD, but ONLY when the plan is compiled without AQE —
    an AdaptiveSparkPlan leaf reports UnknownPartitioning at
    checkpoint-compile time, which is why the repo's plain
    eager-checkpoint sites all show ``UnknownPartitioning(0)`` and
    re-exchange per consumer. AQE is scoped off for this one compile
    (skew of the pinned layout is bounded in-plan by the callers'
    budget guards: degree caps for edge lists, ``max_bucket`` for band
    tables). The partition count defaults to
    ``spark.sql.shuffle.partitions`` — the same scale-adaptive session
    conf every other exchange uses, so the consuming joins'
    ENSURE_REQUIREMENTS sides land on a matching count.

    CONTRACT: ``df``'s subtree must be already materialized (a
    checkpointed RDD scan) or a linear pipeline (scan/project/filter —
    no joins or multi-shuffle aggregations), because the whole subtree
    compiles AND EXECUTES without AQE here. Feeding an untuned join
    tree through this helper silently forfeits AQE broadcast/coalesce
    for that job (measured: s14's un-checkpointed edge funnel compiled
    this way ran >15 min where the tuned form takes seconds —
    statistics-less RDD leaves force 32-partition SMJs everywhere).
    Materialize first (plain eager localCheckpoint), then pin the
    layout: the extra pass costs one |rows|-sized job.
    """
    spark = df.sparkSession
    n = partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    out = df.repartition(n, *keys)
    if sort:
        out = out.sortWithinPartitions(*keys)
    return _checkpoint_keep_layout(out)


def pin_keyed(df: DataFrame, keys: "list[str] | tuple[str, ...]",
              sort: bool = True) -> DataFrame:
    """Materialize ``df`` (plain eager checkpoint, normal AQE planning
    for its subtree), then — ONLY when the materialized table is too
    big for the other join side to be broadcast — re-pin its layout by
    ``keys`` via :func:`pin_partitioned`.

    This is the scale-adaptive form for ITERATED tables (connected
    components / PageRank / label propagation edge lists, LSH band
    self-joins): locally the per-round other side (the |V|-row label
    table, bounded by this table's own row count) lands under
    ``spark.sql.autoBroadcastJoinThreshold``, AQE broadcast-joins it,
    and the big side is never exchanged — pinning would be pure
    overhead (measured +0.4 s on s14 at sf0.1). At 100 TB the label
    table exceeds the threshold, every round becomes a sort-merge join,
    and an unpinned layout re-exchanges AND re-sorts |E| rows per round
    — exactly the O(rounds x |E|) term the pinned layout deletes. The
    decision is made from the materialized row count x schema width —
    observed facts, not estimates — mirroring load_spread's
    conditional-repartition idiom (identity where the cluster-scale
    plan needs no help, layout fix where it does).

    The size gate deliberately compares THIS table against the
    broadcast threshold although the broadcast decision applies to the
    other (never larger) side: when this table fits the threshold, the
    other side certainly does, so the skip is provably safe; past the
    threshold SMJ is possible and the pinned layout is the guaranteed
    lower bound (one shuffle, ever).
    """
    raw = df.localCheckpoint(eager=True)
    if fits_broadcast(raw):  # broadcast disabled => never fits => pin
        return raw
    pinned = pin_partitioned(raw, keys, sort=sort)
    # The pinned copy is materialized; drop the intermediate raw
    # checkpoint's cache NOW instead of waiting for Python GC + the
    # async ContextCleaner — at the scale where the pin engages the
    # raw copy would otherwise double the edge list's resident storage
    # (ADVICE r10).
    _unpersist_quietly(raw)
    return pinned


def fits_broadcast(df: DataFrame) -> bool:
    """True iff an eager-localCheckpoint'ed frame's MATERIALIZED size
    fits under ``spark.sql.autoBroadcastJoinThreshold`` — pin_keyed's
    observed-size gate (block-manager lookup, zero jobs) applied to
    the F.broadcast-hint decision.

    For corpus-derived aggregates (vocabulary / n-gram LM tables,
    candidate-id sets) that are broadcast-small locally but UNBOUNDED
    at 100 TB: a bare ``F.broadcast()`` hint never degrades — Spark
    attempts the broadcast at any estimated size until the 8 GB /
    512M-row hard cap kills the job (VERDICT r10 #3/#4).  Callers keep
    the local plan identical (hint attached while the observed size
    fits) and at scale fall back to an unhinted join that AQE plans
    from runtime statistics.  Unknown size reads as DOES-NOT-FIT: the
    fallback merely loses a hint, while wrongly hinting an oversized
    table is the driver-OOM the gate exists to prevent.

    The size compared is the DESERIALIZED cache size (block manager
    ``memSize + diskSize``), against a threshold Spark defines for
    plan-size estimates; the two track each other but are not the
    same measure. The threshold now bounds a driver collect as well
    as a broadcast hint: ``connected_components`` solves on the driver
    exactly when its materialized edge list passes this gate, and
    ``lsh_verified_edges`` only when its hashed corpus does."""
    size = _cached_bytes(df)
    return size is not None and fits_threshold(df.sparkSession, size)


def fits_threshold(spark: SparkSession, nbytes: int) -> bool:
    """True iff ``nbytes`` is at most
    ``spark.sql.autoBroadcastJoinThreshold``; never when broadcasting
    is disabled (-1 or 0). The byte test behind :func:`fits_broadcast`,
    for a size the caller computed itself."""
    raw_thr = str(spark.conf.get(
        "spark.sql.autoBroadcastJoinThreshold", "10m")).strip()
    if raw_thr in ("-1", "0"):
        return False
    return nbytes <= _parse_bytes(raw_thr, default=10 * 1024**2)


def _unpersist_quietly(df: DataFrame) -> None:
    """Unpersist a localCheckpoint'ed frame's backing RDD (non-blocking);
    best-effort — a failed lookup just leaves the cleanup to the
    ContextCleaner, never fails the query."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:  # noqa: BLE001 - internals moved: ContextCleaner
        pass           # will reclaim it asynchronously


def _cached_bytes(df: DataFrame):
    """Cached size of an eager-localCheckpoint'ed frame from the block
    manager — ZERO jobs (a count-based gate costs a full O(partitions)
    job per call, ~0.3 s on this box; this is a handful of py4j
    lookups). The scan is one roundtrip per cached RDD, and the live
    cached-RDD population stays small in practice: query-local frames
    drop their references at return and the ContextCleaner unpersists
    them asynchronously. Returns None when the size is not (fully)
    reported, which pin_keyed treats as BIG: erring toward the pin
    costs one redundant |rows| pass, erring toward the skip would
    silently keep the O(rounds x |E|) re-shuffle at exactly the scale
    where it hurts. The skip path's dependence on a successful lookup
    is pinned by test_pinning.test_pin_keyed_gate."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        rid = plan.rdd().id()
        jsc = df.sparkSession.sparkContext._jsc.sc()
        for info in jsc.getRDDStorageInfo():
            if info.id() == rid:
                if info.numCachedPartitions() < info.numPartitions():
                    return None
                return int(info.memSize()) + int(info.diskSize())
    except Exception:  # noqa: BLE001 - internals moved: err toward pin
        return None
    return None


def _checkpoint_keep_layout(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint compiled WITHOUT AQE so the LogicalRDD
    keeps the plan's outputPartitioning/outputOrdering (see
    :func:`pin_partitioned`).

    The compile runs in a CLONED session (same SparkContext, isolated
    SQLConf) with adaptive execution off, so the caller's session conf
    is never touched — a concurrent query compiling on another thread
    of the same session keeps AQE and its broadcast/skew handling
    (ADVICE r10: the previous session-global toggle raced with
    concurrent compiles and could restore a stale value). The
    checkpointed LogicalRDD is then re-hosted in the caller's session;
    the RDD itself lives in the shared SparkContext, so nothing about
    the materialized data changes. A failing clone compile raises:
    there is no session-global fallback."""
    spark = df.sparkSession
    jvm = spark.sparkContext._jvm
    jclone = spark._jsparkSession.cloneSession()
    jclone.conf().set("spark.sql.adaptive.enabled", "false")
    jdataset = jvm.org.apache.spark.sql.classic.Dataset
    jpinned = jdataset.ofRows(
        jclone, df._jdf.queryExecution().logical()).localCheckpoint(True)
    jout = jdataset.ofRows(
        spark._jsparkSession, jpinned.queryExecution().logical())
    return df.__class__(jout, spark)


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize the ``ts`` column to a session-zoned (UTC) TIMESTAMP.

    The driver's generator has emitted ``ts`` as TIMESTAMP(NANOS) (read
    as bigint under the legacy conf) and as TIMESTAMP_NTZ across
    versions; downstream operators assume plain TIMESTAMP semantics
    matching DuckDB's naive timestamps.
    """
    from pyspark.sql import functions as F

    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":  # raw nanos: truncate to micros. DIV is
        # exact integer division — `/` would round-trip through double,
        # whose ulp at epoch-nanos magnitude (~2^60) is ~256 ns, enough
        # to land one microsecond low on cast('long') truncation.
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif ts_type == "timestamp_ntz":
        # Naive micros timestamp: with the session pinned to UTC this cast
        # is a pure type relabel, keeping wall-clock parity with DuckDB.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet has stored ``ts`` as TIMESTAMP(NANOS) — read as
    long under the legacy conf ``get_spark`` sets — or TIMESTAMP_NTZ.
    Normalize either."""
    return normalize_events_ts(
        spark.read.parquet(f"{sf_dir}/events.parquet"))
