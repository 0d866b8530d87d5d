"""Drain-and-fold harness shared by the streaming catalog queries
(w01-w16).

Every w-query is the same four steps: land a table as a few files a
file-source stream picks up one trigger at a time, start the stream,
drain it ``availableNow`` to completion, and read the small final
answer back. The pieces:

- :func:`land_chunks` — range-partitioned landing files with strictly
  increasing mtimes, so the file source delivers them in key order;
- :func:`drain` — start a query in the caller's session at
  ``DRAIN_PARTITIONS`` shuffle partitions and wait for it to finish;
- :class:`Fold` — versioned ``foreachBatch`` state: each batch writes
  ``merge(prior, batch)`` as a new version next to the old ones.
"""

from __future__ import annotations

import os
import shutil
import threading
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from mousedatapipeline_spark.tables import _unpersist_quietly

# State-store partition count is fixed per checkpoint at the shuffle
# partitions in force when the query starts, and every trigger pays
# O(partitions) state-store open/commit, so drains run small. (On a
# real cluster you size this to key cardinality, not cores.)
DRAIN_PARTITIONS = "4"
_SHUFFLE = "spark.sql.shuffle.partitions"
_DRAIN_TIMEOUT_S = 300
# Serializes the set/restore around start(): unlocked, two drains can
# interleave save-set-restore and leave the caller's session at 4.
_START_LOCK = threading.Lock()


def land_chunks(df: DataFrame, landing: Path, n: int,
                key: str) -> T.StructType:
    """Land ``df`` as ``n`` parquet chunk files range-partitioned on
    ``key``, numbered after any chunk already in ``landing``, and
    return the schema to stream them back with.

    mtimes increase with the key range. With ``maxFilesPerTrigger`` the
    file source takes files oldest-mtime-first, so each micro-batch
    delivers a later key range than the last — the cross-trigger
    ordering contract of the stateful queries. Range-partitioning on the
    column the state keys time on is how a real ingestion layout
    provides this at scale (e.g. hourly landing files).
    """
    landing.mkdir(parents=True, exist_ok=True)
    first = len(list(landing.glob("chunk*.parquet")))
    # One write; its part numbers follow the range order. '_' hides the
    # staging dir from the file source.
    tmp = landing / "_tmp"
    df.repartitionByRange(n, key).write.mode("overwrite").parquet(str(tmp))
    for i, part in enumerate(sorted(tmp.glob("part-*.parquet")), first):
        dest = landing / f"chunk{i:03d}.parquet"
        shutil.move(str(part), str(dest))
        os.utime(dest, (1_000_000_000 + i,) * 2)
    shutil.rmtree(tmp)
    return df.schema


def drain(spark: SparkSession, start: Callable[[], StreamingQuery]) -> None:
    """Start a streaming query and wait until its availableNow drain
    completes; a query failure raises here.

    The query snapshots its session conf at ``start()``, so
    ``DRAIN_PARTITIONS`` is set only around that call, under a lock,
    and the caller's value is back before the first batch runs. The
    stream stays in the caller's session, where its listeners see it.
    A timed-out drain raises: its sink would be partial and read back
    as a silently wrong answer.
    """
    with _START_LOCK:
        prev = spark.conf.get(_SHUFFLE)
        spark.conf.set(_SHUFFLE, DRAIN_PARTITIONS)
        try:
            q = start()
        finally:
            spark.conf.set(_SHUFFLE, prev)
    if not q.awaitTermination(_DRAIN_TIMEOUT_S):
        q.stop()
        raise TimeoutError(
            f"streaming drain did not finish within {_DRAIN_TIMEOUT_S}s")


def sink(spark: SparkSession, stream: DataFrame, work: Path) -> DataFrame:
    """Drain ``stream`` into an append-mode parquet file sink under
    ``work`` and read the sink back."""
    path = str(work / "sink")
    drain(spark, stream.writeStream.format("parquet")
          .option("path", path)
          .option("checkpointLocation", str(work / "ckpt"))
          .outputMode("append")
          .trigger(availableNow=True).start)
    return spark.read.parquet(path)


def _struct(schema: str | T.StructType) -> T.StructType:
    return T.StructType.fromDDL(schema) if isinstance(schema, str) else schema


def _empty(spark: SparkSession, schema: T.StructType) -> DataFrame:
    # LIMIT 0 plans as an empty LocalRelation, which the optimizer
    # prunes out of unions and joins — no job, no Python worker.
    return spark.range(1).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema]
    ).limit(0)


def _versions(state_dir: Path) -> list[Path]:
    """``v*`` dirs by parsed batch id — by name, v9999 sorts after
    v10000 and a fold would resume from the wrong version."""
    return sorted(state_dir.glob("v*"), key=lambda p: int(p.name[1:]))


@dataclass(frozen=True)
class Fold:
    """Versioned ``foreachBatch`` state, one directory per batch.

    ``merge(prior, batch)`` returns the new state. ``prior`` is the
    newest version strictly below the batch id, read with the declared
    ``schema`` (an empty frame with that schema before the first
    version). Strictly below: a foreachBatch replay (task retry,
    checkpoint restart) must not read its own previous attempt's output
    as prior state — that would fold the batch in twice and lazily read
    the directory being overwritten. Re-running batch N over v{N-1} is
    idempotent by construction, and each write is a new version, so a
    crashed batch never corrupts the previous one.

    With ``closed`` set to the name of a boolean column of the merge
    output, rows where it is true are history that can no longer
    change: they go to ``closed/v{id}`` once and never re-enter, and
    only the rest rewrites as ``open/v{id}`` (the next batch's prior).
    The column itself is not stored.
    """
    merge: Callable[[DataFrame, DataFrame], DataFrame]
    schema: str | T.StructType
    closed: str | None = None

    def step(self, batch: DataFrame, batch_id: int, state_dir: Path) -> None:
        spark = batch.sparkSession
        schema = _struct(self.schema)
        live = state_dir / "open" if self.closed else state_dir
        below = [p for p in _versions(live) if int(p.name[1:]) < batch_id]
        prior = (spark.read.schema(schema).parquet(str(below[-1]))
                 if below else _empty(spark, schema))
        out = self.merge(prior, batch)
        name = f"v{batch_id:06d}"
        if self.closed is None:
            out.write.mode("overwrite").parquet(str(live / name))
            return
        # One evaluation of the merge feeds both writes.
        out = out.localCheckpoint(eager=True)
        done = F.col(self.closed)
        for rows, where in ((out.filter(done), state_dir / "closed"),
                            (out.filter(~done), live)):
            rows.drop(self.closed).write.mode("overwrite") \
                .parquet(str(where / name))
        _unpersist_quietly(out)

    def final(self, spark: SparkSession, state_dir: Path) -> DataFrame:
        """The drained state: the newest version (plus every closed
        one). Reads apply the declared schema — a version written from
        a batch with no rows is an empty dir that breaks inference — and
        a stream whose source was empty, so no batch ever ran, yields
        the empty declared-schema table, which equals the batch oracle
        over the same empty input."""
        schema = _struct(self.schema)
        live = state_dir / "open" if self.closed else state_dir
        paths = [str(p) for p in _versions(live)[-1:]]
        if self.closed:
            paths += [str(p) for p in _versions(state_dir / "closed")]
        if not paths:
            return _empty(spark, schema)
        return spark.read.schema(schema).parquet(*paths)

    def run(self, spark: SparkSession, stream: DataFrame,
            work: Path) -> DataFrame:
        """Drain ``stream`` through :meth:`step` into ``work/state`` and
        return :meth:`final`."""
        state = work / "state"
        drain(spark, stream.writeStream
              .foreachBatch(lambda b, i: self.step(b, i, state))
              .option("checkpointLocation", str(work / "ckpt"))
              .trigger(availableNow=True).start)
        return self.final(spark, state)
