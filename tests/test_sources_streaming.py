"""Manifest source, HDF5 flattening coercions, sinks, and the
Structured Streaming watcher (availableNow end-to-end)."""

from __future__ import annotations

import os
import tempfile
import threading
import time
from pathlib import Path

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from mousedatapipeline_spark import scratch
from mousedatapipeline_spark.sources import hdf5, manifest, sinks
from mousedatapipeline_spark.streaming import fold, watcher

_PARTS = "spark.sql.shuffle.partitions"
_W_QUERIES = (
    "w01_stream_tumbling_counts", "w02_stream_sessionization",
    "w03_stream_dedup", "w04_stream_incremental_agg",
    "w05_stream_stream_join", "w06_stream_hll_users",
    "w07_stream_quantile_histogram", "w08_stream_session_window",
    "w09_stream_topk", "w10_stream_decontam",
    "w12_stream_running_profile", "w13_stream_bootstrap",
    "w14_stream_scd2", "w15_stream_compaction", "w16_stream_sliding_hll",
)


def _fake_listing(spark):
    rows = [
        # complete repetition: 2 sub masters, 2 sub craws, 1+1 top level
        ("/d/2024/20240101/20240101_5_1/beam_profile/eiger_0_master.h5",),
        ("/d/2024/20240101/20240101_5_1/beam_profile_through_sample/eiger_1_master.h5",),
        ("/d/2024/20240101/20240101_5_1/beam_profile/im_craw.nxs",),
        ("/d/2024/20240101/20240101_5_1/beam_profile_through_sample/im_craw.nxs",),
        ("/d/2024/20240101/20240101_5_1/eiger_2_master.h5",),
        ("/d/2024/20240101/20240101_5_1/im_craw.nxs",),
        # incomplete repetition: missing one sub-measurement
        ("/d/2024/20240101/20240101_5_2/beam_profile/eiger_0_master.h5",),
        ("/d/2024/20240101/20240101_5_2/beam_profile/im_craw.nxs",),
        ("/d/2024/20240101/20240101_5_2/eiger_2_master.h5",),
        ("/d/2024/20240101/20240101_5_2/im_craw.nxs",),
    ]
    return spark.createDataFrame(rows, "path string")


def test_extract_keys_and_partitions(spark):
    df = manifest.extract_keys(_fake_listing(spark))
    r = df.select("ymd", "batch", "repetition", "year").distinct().collect()
    assert {(x["ymd"], x["batch"], x["repetition"], x["year"])
            for x in r} == {("20240101", 5, 1, 2024), ("20240101", 5, 2, 2024)}


def test_repetition_manifest_completeness(spark):
    files = manifest.extract_keys(_fake_listing(spark))
    m = {r["repetition"]: r
         for r in manifest.repetition_manifest(files).collect()}
    assert m[1]["is_complete"] is True and m[1]["missing"] == []
    assert m[2]["is_complete"] is False
    assert "n_sub_master!=2" in m[2]["missing"]


def test_pending_repetitions_anti_join(spark):
    files = manifest.extract_keys(_fake_listing(spark))
    man = manifest.repetition_manifest(files)
    processed = spark.createDataFrame(
        [("20240101", 5, 1)], "ymd string, batch int, repetition int")
    # repetition 1 is complete but processed; 2 is incomplete -> none left
    assert manifest.pending_repetitions(man, processed).count() == 0
    none_processed = spark.createDataFrame(
        [], "ymd string, batch int, repetition int")
    left = manifest.pending_repetitions(man, none_processed).collect()
    assert [(r["batch"], r["repetition"]) for r in left] == [(5, 1)]


def test_hdf5_defensive_coercions():
    tree = {
        "entry": {
            "flux": 5.5,
            "arr_scalar": [1.0, 2.0, 3.0],      # mean-if-array -> 2.0
            "name": b"sample-7",
            "img": [[1.0, 2.0], [3.0, 4.0]],
        }
    }
    assert hdf5.read_h5_value(tree, "/entry/flux", "float") == 5.5
    assert hdf5.read_h5_value(tree, "/entry/arr_scalar", "float") == 2.0
    assert hdf5.read_h5_value(tree, "/entry/missing", "float") == 0.0
    assert hdf5.read_h5_value(tree, "/entry/name", "string") == "sample-7"
    assert hdf5.read_h5_value(tree, "/entry/missing", "string") == ""
    assert hdf5.read_h5_value(tree, "/entry/img", "float_array") == [
        1.0, 2.0, 3.0, 4.0]
    assert hdf5.read_h5_value(tree, "/entry/missing", "float_array") is None


def test_hdf5_flatten_tree_and_schema():
    schema = hdf5.IngestSchema(mappings=(
        hdf5.HDF5Mapping("/entry/flux", "flux", "float", unit="1/s"),
        hdf5.HDF5Mapping("/entry/name", "sample_name", "string"),
    ))
    row = hdf5.flatten_tree(
        {"entry": {"flux": 2.5, "name": b"x"}}, schema,
        {"ymd": "20240101", "batch": 1, "repetition": 2})
    assert row == {"ymd": "20240101", "batch": 1, "repetition": 2,
                   "flux": 2.5, "sample_name": "x"}
    spark_schema = schema.spark_schema()
    assert spark_schema["flux"].metadata == {
        "hdf5_path": "/entry/flux", "unit": "1/s"}


def test_mouse_schema_has_physics_inputs():
    cols = {m.column for m in hdf5.MOUSE_SCHEMA.mappings}
    assert {"flux", "transmission", "wavelength", "det_x"} <= cols


def test_sinks_roundtrip(tmp_path, spark):
    df = spark.createDataFrame(
        [(2024, "20240101", 1, 0.9), (2024, "20240101", 2, 0.8)],
        "year int, ymd string, repetition int, transmission double")
    p = str(tmp_path / "stacked")
    sinks.write_stacked(df, p, partition_cols=("year",))
    back = spark.read.parquet(p)
    assert back.count() == 2 and "year" in back.columns

    c = str(tmp_path / "metrics")
    sinks.append_metrics_csv(df, c, columns=("ymd", "repetition"))
    sinks.append_metrics_csv(df, c, columns=("ymd", "repetition"))  # append
    got = spark.read.option("header", True).csv(c)
    assert got.count() == 4

    q = str(tmp_path / "quarantine")
    sinks.write_quarantine(df.withColumn("reject_reason", F.lit("r")), q)
    assert spark.read.parquet(q).count() == 2


def test_streaming_watcher_end_to_end(tmp_path, spark):
    """availableNow drain: landing parquet -> pipeline -> sink, with
    idempotent re-run (W3)."""
    landing = str(tmp_path / "landing")
    sink = str(tmp_path / "sink")
    ckpt1, ckpt2 = str(tmp_path / "c1"), str(tmp_path / "c2")

    batch1 = spark.createDataFrame(
        [("20240101", 1, 1, 10.0), ("20240101", 1, 2, 20.0)],
        "ymd string, batch int, repetition int, flux double")
    batch1.write.mode("append").parquet(landing)

    stream = watcher.stream_manifest(spark, landing, batch1.schema)
    assert stream.isStreaming

    pipeline = lambda df: df.withColumn(  # noqa: E731
        "flux_norm", F.col("flux") / 10.0)
    q = watcher.run_watcher(stream, pipeline, sink, ckpt1,
                            available_now=True)
    q.awaitTermination(60)
    out = spark.read.parquet(sink)
    assert out.count() == 2 and "flux_norm" in out.columns

    # Re-deliver the same rows under a fresh checkpoint: the sink-level
    # dedupe (W3) must keep the output at 2 rows.
    q2 = watcher.run_watcher(
        watcher.stream_manifest(spark, landing, batch1.schema),
        pipeline, sink, ckpt2, available_now=True)
    q2.awaitTermination(60)
    assert spark.read.parquet(sink).count() == 2


def test_dedupe_against_sink_raises_on_unreadable_sink(spark, tmp_path):
    """Only a sink that does not exist yet is the first batch: an
    unreadable sink must raise, not silently turn the dedupe off."""
    batch = spark.createDataFrame(
        [("20240101", 1, 1)], "ymd string, batch int, repetition int")
    assert watcher.dedupe_against_sink(
        batch, str(tmp_path / "absent")).count() == 1
    sink = tmp_path / "sink"
    sink.mkdir()
    (sink / "part-0.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="parquet"):
        watcher.dedupe_against_sink(batch, str(sink)).collect()


def test_windowed_event_counts_batch_semantics(spark):
    from datetime import datetime
    ev = spark.createDataFrame(
        [(datetime(2024, 1, 1, 10, 5), "click", 1),
         (datetime(2024, 1, 1, 10, 55), "click", 2),
         (datetime(2024, 1, 1, 11, 5), "view", 1)],
        "ts timestamp, event_type string, user_id long")
    # The aggregation itself is testable in batch mode (same plan shape).
    out = {(r["window_start"].hour, r["event_type"]): r["n_events"]
           for r in watcher.windowed_event_counts(ev).collect()}
    assert out[(10, "click")] == 2 and out[(11, "view")] == 1


def test_stateful_sessionization_across_triggers(tmp_path, spark):
    """applyInPandasWithState carries per-user session state BETWEEN
    micro-batches: a gap under the threshold that spans the trigger
    boundary must NOT open a new session (the case stateless
    per-batch re-aggregation gets wrong)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mousedatapipeline_spark.streaming import stateful

    landing = tmp_path / "landing"
    landing.mkdir()
    us = 1_000_000
    t0 = 1_700_000_000 * us
    chunks = [
        # trigger 1: user 1 two events 10s apart; user 2 one event
        {"user_id": [1, 1, 2], "ts_us": [t0, t0 + 10 * us, t0]},
        # trigger 2: user 1 +20s (same session, across the boundary);
        # user 2 +4000s (> 1800s gap -> second session)
        {"user_id": [1, 2], "ts_us": [t0 + 20 * us, t0 + 4000 * us]},
    ]
    for i, data in enumerate(chunks):
        dest = landing / f"chunk{i}.parquet"
        pq.write_table(
            pa.table({k: pa.array(v, pa.int64())
                      for k, v in data.items()}), dest)
        os.utime(dest, (1_000_000_000 + i,) * 2)

    stream = (
        spark.readStream.schema("user_id long, ts_us long")
        .option("maxFilesPerTrigger", 1).parquet(str(landing)))
    out = stateful.sessionize_stream(stream, gap_seconds=1800)
    sink = str(tmp_path / "sink")
    q = (
        out.writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)

    per_user: dict[int, list[tuple[int, int]]] = {}
    for r in spark.read.parquet(sink).collect():
        per_user.setdefault(r["user_id"], []).append(
            (r["n_sessions"], r["n_events"]))
    # one emission per (user, trigger): maxFilesPerTrigger=1 really did
    # split the drain into two stateful micro-batches
    assert len(per_user[1]) == 2 and len(per_user[2]) == 2
    final = {u: (max(a for a, _ in v), max(b for _, b in v))
             for u, v in per_user.items()}
    assert final[1] == (1, 3)  # state carried: still one session
    assert final[2] == (2, 2)  # gap across triggers: new session


def test_stream_dedup_drops_cross_trigger_redelivery(tmp_path, spark):
    """dropDuplicatesWithinWatermark keeps key state ACROSS triggers: a
    re-delivery arriving in a later micro-batch must be dropped."""
    from datetime import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mousedatapipeline_spark.streaming import stateful

    landing = tmp_path / "landing"
    landing.mkdir()
    t = lambda m: datetime(2024, 1, 1, 10, m)  # noqa: E731
    chunks = [
        {"event_id": [1, 2, 2], "ts": [t(0), t(1), t(1)]},   # in-batch dup
        {"event_id": [2, 3], "ts": [t(1), t(2)]},            # cross-batch dup
    ]
    for i, data in enumerate(chunks):
        dest = landing / f"chunk{i}.parquet"
        pq.write_table(pa.table({
            "event_id": pa.array(data["event_id"], pa.int64()),
            "ts": pa.array(data["ts"], pa.timestamp("us")),
        }), dest)
        os.utime(dest, (1_000_000_000 + i,) * 2)

    stream = (spark.readStream.schema("event_id long, ts timestamp")
              .option("maxFilesPerTrigger", 1).parquet(str(landing)))
    deduped = stateful.dedupe_stream(stream, ["event_id"], "ts", "1 hour")
    sink = str(tmp_path / "sink")
    q = (deduped.writeStream.format("parquet").option("path", sink)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(r["event_id"] for r in spark.read.parquet(sink).collect())
    assert got == [1, 2, 3]


def test_upsert_partitions_rewrites_only_changed(tmp_path, spark):
    path = str(tmp_path / "table")
    day1 = spark.createDataFrame(
        [("20240101", 1, 1.0), ("20240102", 1, 2.0)],
        "ymd string, batch int, v double")
    sinks.upsert_partitions(day1, path, ["ymd"])
    # Reprocess day 2 only: day 1 must survive, day 2 must be replaced.
    day2_fixed = spark.createDataFrame(
        [("20240102", 1, 99.0), ("20240102", 2, 98.0)],
        "ymd string, batch int, v double")
    sinks.upsert_partitions(day2_fixed, path, ["ymd"])
    # Partition values come back type-inferred (int here) — normalize.
    got = {(str(r["ymd"]), r["batch"]): r["v"]
           for r in spark.read.parquet(path).collect()}
    assert got == {("20240101", 1): 1.0,
                   ("20240102", 1): 99.0, ("20240102", 2): 98.0}
    # Idempotent: re-running the same upsert changes nothing.
    sinks.upsert_partitions(day2_fixed, path, ["ymd"])
    assert spark.read.parquet(path).count() == 3
    # The per-write option wins over an explicitly static session conf,
    # which the upsert leaves as it found it.
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        sinks.upsert_partitions(day2_fixed, path, ["ymd"])
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.set(key, prev)
    assert spark.read.parquet(path).count() == 3


def test_compact_reduces_file_count(tmp_path, spark):
    path = str(tmp_path / "frag")
    df = spark.createDataFrame(
        [(i, i % 3) for i in range(300)], "id long, part int")
    # Fragment: 50 writer tasks -> many small files.
    df.repartition(50).write.mode("overwrite").parquet(path)
    from pathlib import Path
    before = len(list(Path(path).rglob("part-*.parquet")))
    assert before >= 40
    n_after = sinks.compact(spark, path, target_rows_per_file=200)
    assert n_after <= 2
    out = spark.read.parquet(path)
    assert out.count() == 300
    assert out.agg(F.sum("id")).collect()[0][0] == sum(range(300))


def test_compact_partitioned_one_file_per_dir(tmp_path, spark):
    path = str(tmp_path / "fragp")
    df = spark.createDataFrame(
        [(i, i % 3) for i in range(300)], "id long, part int")
    df.repartition(20).write.mode("overwrite").partitionBy("part") \
        .parquet(path)
    from pathlib import Path
    assert len(list(Path(path).rglob("part-*.parquet"))) >= 30
    sinks.compact(spark, path, target_rows_per_file=1000,
                  partition_cols=["part"])
    for d in Path(path).glob("part=*"):
        assert len(list(d.glob("part-*.parquet"))) == 1
    assert spark.read.parquet(path).count() == 300


def test_failed_compact_leaves_no_staging_dir(tmp_path, spark):
    path = tmp_path / "frag"
    spark.range(10).write.parquet(str(path))
    with pytest.raises(Exception, match="nope"):
        sinks.compact(spark, str(path), partition_cols=["nope"])
    assert [p.name for p in tmp_path.iterdir()] == ["frag"]
    assert spark.read.parquet(str(path)).count() == 10


def test_merge_batch_into_state_versions_and_running_totals(spark, tmp_path):
    """w04's foreachBatch merge: each call writes a NEW version whose
    totals are the running (count, decimal sum) over all batches."""
    from pathlib import Path

    from mousedatapipeline_spark.plans.streaming_queries import _W04_FOLD
    state = Path(tmp_path / "state")
    state.mkdir()
    b1 = spark.createDataFrame([("a", 1.5), ("a", 2.5), ("b", 1.0)],
                               ["event_type", "value"])
    b2 = spark.createDataFrame([("a", 4.0), ("c", 7.0)],
                               ["event_type", "value"])
    _W04_FOLD.step(b1, 0, state)
    _W04_FOLD.step(b2, 1, state)
    assert sorted(p.name for p in state.glob("v*")) == \
        ["v000000", "v000001"]
    final = {r.event_type: (r.n_events, float(r.value_dec))
             for r in spark.read.parquet(str(state / "v000001")).collect()}
    assert final == {"a": (3, 8.0), "b": (1, 1.0), "c": (1, 7.0)}
    # previous version untouched (atomic pointer-bump semantics)
    v0 = {r.event_type: r.n_events
          for r in spark.read.parquet(str(state / "v000000")).collect()}
    assert v0 == {"a": 2, "b": 1}


def test_write_jsonl_shards_one_file_per_shard(spark, tmp_path):
    from mousedatapipeline_spark.sources.sinks import write_jsonl_shards
    df = spark.range(200).selectExpr("id", "CAST(id % 4 AS STRING) AS shard")
    out = str(tmp_path / "shards")
    write_jsonl_shards(df, out, "shard")
    import glob
    import json as _json
    dirs = sorted(glob.glob(out + "/shard=*"))
    assert len(dirs) == 4
    total = 0
    for d in dirs:
        files = [f for f in glob.glob(d + "/part-*") if not f.endswith(".crc")]
        assert len(files) == 1, files  # repartition(shard) => one file
        with open(files[0]) as fh:
            for line in fh:
                _json.loads(line)
                total += 1
    assert total == 200


def test_merge_replay_is_idempotent(spark, tmp_path):
    """A foreachBatch replay of the SAME batch id (task retry /
    checkpoint restart) must not double-count: the merge reads only
    state versions strictly below the current batch id."""
    from pathlib import Path

    from mousedatapipeline_spark.plans.streaming_queries import (
        _W04_FOLD,
        _W07_FOLD,
    )

    state = Path(tmp_path / "w04state"); state.mkdir()
    b0 = spark.createDataFrame([("click", 1.0), ("view", 2.0)],
                               "event_type string, value double")
    b1 = spark.createDataFrame([("click", 4.0)],
                               "event_type string, value double")
    _W04_FOLD.step(b0, 0, state)
    _W04_FOLD.step(b1, 1, state)
    _W04_FOLD.step(b1, 1, state)  # replay of batch 1
    final = spark.read.parquet(
        str(sorted(state.glob("v*"))[-1])).collect()
    by_type = {r["event_type"]: (r["n_events"], float(r["value_dec"]))
               for r in final}
    assert by_type == {"click": (2, 5.0), "view": (1, 2.0)}

    state7 = Path(tmp_path / "w07state"); state7.mkdir()
    v0 = spark.createDataFrame([(1.0,), (2.0,)], "value double")
    v1 = spark.createDataFrame([(3.0,)], "value double")
    _W07_FOLD.step(v0, 0, state7)
    _W07_FOLD.step(v1, 1, state7)
    _W07_FOLD.step(v1, 1, state7)  # replay
    hist = spark.read.parquet(str(sorted(state7.glob("v*"))[-1]))
    assert hist.agg({"cnt": "sum"}).collect()[0][0] == 3


def test_w13_merge_replay_is_idempotent(spark, tmp_path):
    """Same strictly-below-batch guard at the bootstrap state merge:
    replaying a batch id leaves the replica monoid equal to the
    once-delivered answer."""
    from pathlib import Path

    from mousedatapipeline_spark.plans.streaming_queries import _W13_FOLD

    state = Path(tmp_path / "w13state"); state.mkdir()
    b0 = spark.range(0, 50).selectExpr(
        "id AS event_id", "'click' AS event_type",
        "CAST(id AS DOUBLE) / 7 AS value")
    b1 = spark.range(50, 80).selectExpr(
        "id AS event_id", "'click' AS event_type",
        "CAST(id AS DOUBLE) / 7 AS value")
    _W13_FOLD.step(b0, 0, state)
    _W13_FOLD.step(b1, 1, state)
    once = spark.read.parquet(
        str(sorted(state.glob("v*"))[-1])).collect()
    _W13_FOLD.step(b1, 1, state)  # replay of batch 1
    replayed = spark.read.parquet(
        str(sorted(state.glob("v*"))[-1])).collect()
    key = lambda r: r["event_type"]  # noqa: E731
    assert sorted(once, key=key) == sorted(replayed, key=key)
    assert once[0]["n"] == 80


def test_w14_scd2_merge_replay_is_idempotent(spark, tmp_path):
    """Replaying a batch id must leave the SCD-2 state identical: the
    merge reads only open snapshots strictly below the current batch id
    and overwrites its own closed/open outputs."""
    from pathlib import Path

    from mousedatapipeline_spark.plans.streaming_queries import (
        _W14_CLOSED_SCHEMA,
        _W14_FOLD,
    )

    state = Path(tmp_path / "w14state")
    (state / "closed").mkdir(parents=True)
    (state / "open").mkdir()
    b0 = spark.createDataFrame(
        [(1, 10, 100, "a"), (2, 10, 200, "b"), (3, 20, 150, "a")],
        "event_id long, user_id long, ts_us long, event_type string")
    b1 = spark.createDataFrame(
        [(4, 10, 300, "b"), (5, 20, 400, "a"), (6, 20, 500, "c")],
        "event_id long, user_id long, ts_us long, event_type string")
    _W14_FOLD.step(b0, 0, state)
    _W14_FOLD.step(b1, 1, state)

    def snapshot():
        closed = spark.read.schema(_W14_CLOSED_SCHEMA).parquet(
            *[str(p) for p in sorted((state / "closed").glob("v*"))])
        open_df = spark.read.parquet(
            str(sorted((state / "open").glob("v*"))[-1]))
        return (sorted(map(tuple, closed.collect())),
                sorted(map(tuple, open_df.collect())))

    once = snapshot()
    _W14_FOLD.step(b1, 1, state)  # replay of batch 1
    assert snapshot() == once
    closed, open_rows = once
    # user 10: a@100 closed at 200? no — b@200 belongs to user 10 too:
    # versions a[100,200) b[200,open); user 20: a[150,500) c[500,open).
    # b1's a@400 for user 20 collapses into the open a version.
    assert (10, "a", 100, 1, 200) in closed
    assert (20, "a", 150, 3, 500) in closed
    assert {(u, t) for (u, t, *_rest) in open_rows} == {
        (10, "b"), (20, "c")}


def test_w14_scd2_intervals_partition_timeline(spark):
    """End-to-end invariant at sf0.001: per user, version intervals are
    contiguous (valid_to of one == valid_from of the next), exactly one
    open row per user, and no interval is empty."""
    from mousedatapipeline_spark.plans.streaming_queries import (
        w14_stream_scd2,
    )

    rows = w14_stream_scd2(spark, "/root/testdata/sf0.001").collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    assert by_user
    for user, vs in by_user.items():
        vs.sort(key=lambda r: r.valid_from)
        opens = [r for r in vs if r.is_current == 1]
        assert len(opens) == 1 and vs[-1] is opens[0]
        for a, b in zip(vs, vs[1:]):
            assert a.valid_to == b.valid_from, (user, a, b)
            assert a.valid_from < a.valid_to
        assert vs[-1].valid_to == -1


def test_w15_compaction_merge_replay_and_carry(spark, tmp_path):
    """Replaying a batch id leaves the packing state identical, and
    the carry-forward pack across two batches equals a single-shot
    pack of the concatenated manifest (target = 16384 bytes: batch 0
    fills bin 0 past target, so batch 1 must both CLOSE bin 0 and
    continue into bin 1)."""
    from pathlib import Path

    from mousedatapipeline_spark.plans.streaming_queries import (
        _W15_BIN_SCHEMA,
        _W15_FOLD,
    )

    state = Path(tmp_path / "w15state")
    (state / "closed").mkdir(parents=True)
    (state / "open").mkdir()
    b0 = spark.createDataFrame(
        [("cc", 1, 10_000), ("cc", 2, 7_000), ("web", 1, 5_000)],
        "source string, file_id long, sz long")
    b1 = spark.createDataFrame(
        [("cc", 3, 2_000), ("web", 2, 20_000)],
        "source string, file_id long, sz long")
    _W15_FOLD.step(b0, 0, state)
    _W15_FOLD.step(b1, 1, state)

    def snapshot():
        closed = spark.read.schema(_W15_BIN_SCHEMA).parquet(
            *[str(p) for p in sorted((state / "closed").glob("v*"))])
        open_df = spark.read.parquet(
            str(sorted((state / "open").glob("v*"))[-1]))
        return (sorted(map(tuple, closed.collect())),
                sorted(map(tuple, open_df.collect())))

    once = snapshot()
    _W15_FOLD.step(b1, 1, state)  # replay of batch 1
    assert snapshot() == once
    closed, open_rows = once
    # cc: cum_before 0 / 10000 / 17000 -> bins 0,0,1: bin 0 (2 files,
    # 17000 bytes) closed by batch 1; bin 1 open with file 3 only.
    assert (("cc", 0, 2, 17_000, 1, 2) in closed)
    # web: cum_before 0 / 5000 -> both files in bin 0, still open
    # (25000 bytes, cum carried = 25000).
    opens = {(r[0], r[1]): r for r in open_rows}
    assert opens[("cc", 1)][2:6] == (1, 2_000, 3, 3)
    assert opens[("web", 0)][2:6] == (2, 25_000, 1, 2)
    assert opens[("cc", 1)][6] == 19_000   # carried cum
    assert opens[("web", 0)][6] == 25_000


def test_w15_out_of_order_batch_fails_loudly(spark, tmp_path):
    """A manifest entry arriving AFTER its source's open bin already
    packed a later file must raise (not silently pack at the wrong
    offset) — the w15 ordering contract."""
    from pathlib import Path

    import pytest as _pytest

    from mousedatapipeline_spark.plans.streaming_queries import _W15_FOLD

    state = Path(tmp_path / "w15oo")
    (state / "closed").mkdir(parents=True)
    (state / "open").mkdir()
    b0 = spark.createDataFrame([("cc", 5, 1_000)],
                               "source string, file_id long, sz long")
    late = spark.createDataFrame([("cc", 3, 1_000)],
                                 "source string, file_id long, sz long")
    _W15_FOLD.step(b0, 0, state)
    with _pytest.raises(Exception, match="ordering contract"):
        _W15_FOLD.step(late, 1, state)


def test_w15_evaluates_each_merge_once(spark):
    """With ``closed`` set, a batch's merge feeds both the closed and the
    open write from one evaluation (42 jobs per run when each write
    recomputed it, 30 with one). Counted by job-id range: the
    micro-batches run under the stream's own job group."""
    from mousedatapipeline_spark.plans import streaming_queries as SQ

    corpus = str(Path(__file__).resolve().parents[1] / "perfbench" / "base")
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = dag.nextJobId()
    SQ.w15_stream_compaction(spark, corpus)
    jobs = dag.nextJobId() - j0
    assert jobs <= 32, jobs


def test_w16_hll_merge_is_replay_idempotent_and_order_insensitive(
        spark, tmp_path):
    """Register max-merge state: replaying a batch id leaves the state
    identical, and delivering the SAME events in the opposite batch
    order produces the IDENTICAL register table — the algebraic
    (commutative + idempotent) property that lets sketch state skip
    w15-style ordering contracts."""
    from pathlib import Path

    from mousedatapipeline_spark.plans.streaming_queries import (
        _W16_FOLD,
        _W16_REG_SCHEMA,
    )

    schema = "event_id long, user_id long, event_type string, ts_us long"
    day0, day1 = 1_700_000_000_000_000, 1_700_086_400_000_000
    b0 = spark.createDataFrame(
        [(1, 10, "a", day0), (2, 11, "a", day0), (3, 10, "a", day1)],
        schema)
    b1 = spark.createDataFrame(
        [(4, 12, "a", day0), (5, 10, "a", day0), (6, 13, "a", day1)],
        schema)

    def run(batches, root):
        state = Path(root)
        state.mkdir()
        for i, b in enumerate(batches):
            _W16_FOLD.step(b, i, state)
        last = sorted(state.glob("v*"))[-1]
        return sorted(map(tuple, spark.read.schema(_W16_REG_SCHEMA)
                          .parquet(str(last)).collect())), state

    fwd, state = run([b0, b1], tmp_path / "fwd")
    _W16_FOLD.step(b1, 1, state)  # replay of batch 1
    replayed = sorted(map(tuple, spark.read.schema(_W16_REG_SCHEMA)
                          .parquet(str(sorted(state.glob("v*"))[-1]))
                          .collect()))
    assert replayed == fwd
    rev, _ = run([b1, b0], tmp_path / "rev")
    assert rev == fwd


def test_streaming_queries_empty_fixture(spark, tmp_path):
    """An EMPTY source fixture (zero chunks -> foreachBatch never fires
    -> no v* state dirs) must yield the declared-schema degenerate
    result, not an IndexError (ADVICE r05). w07 keeps its one
    global-agg row of NULLs — exactly what its oracle returns over an
    empty events table."""
    spark.createDataFrame(
        [], "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string"
    ).write.parquet(str(tmp_path / "events.parquet"))
    spark.createDataFrame(
        [], "doc_id bigint, text string, lang string, source string, "
            "n_chars bigint"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    from mousedatapipeline_spark.plans import streaming_queries as SQ
    sf = str(tmp_path)
    zero_row = [
        SQ.w04_stream_incremental_agg, SQ.w06_stream_hll_users,
        SQ.w08_stream_session_window, SQ.w09_stream_topk,
        SQ.w13_stream_bootstrap, SQ.w14_stream_scd2,
        SQ.w15_stream_compaction, SQ.w16_stream_sliding_hll,
    ]
    for fn in zero_row:
        out = fn(spark, sf)
        assert out.count() == 0, fn.__name__
        assert len(out.columns) > 0, fn.__name__
    h = SQ.w07_stream_quantile_histogram(spark, sf).collect()
    assert len(h) == 1 and all(v is None for v in h[0])


def test_write_bucketed_managed_survives_stale_location(spark):
    """In-memory-catalog sessions forget managed tables but their
    warehouse directories persist; a rewrite in a later session must
    not die with LOCATION_ALREADY_EXISTS. Simulated by dropping the
    catalog entry while leaving the directory behind."""
    import shutil
    from pathlib import Path

    df = spark.range(100).selectExpr("id AS k", "id * 2 AS v")
    wh = Path(spark.conf.get("spark.sql.warehouse.dir")
              .removeprefix("file:"))
    spark.sql("CREATE DATABASE IF NOT EXISTS btdb")
    try:
        # default-db AND qualified-name cases: the orphan location differs
        # (<wh>/<t> vs <wh>/<db>.db/<t>), which a naive guess gets wrong
        for table, loc in [("bt_stale", wh / "bt_stale"),
                           ("btdb.bt_stale", wh / "btdb.db" / "bt_stale")]:
            sinks.write_bucketed(df, table, ["k"], 4)
            assert loc.exists(), loc
            stash = loc.with_name("bt_stale_stash")
            if stash.exists():                # interrupted prior run
                shutil.rmtree(stash)
            shutil.copytree(loc, stash)
            spark.sql(f"DROP TABLE {table}")  # drops dir too (managed)
            shutil.move(str(stash), str(loc))  # orphan the location
            try:
                sinks.write_bucketed(df, table, ["k"], 4)  # must not raise
                assert spark.table(table).count() == 100
            finally:
                spark.sql(f"DROP TABLE IF EXISTS {table}")
    finally:
        spark.sql("DROP DATABASE IF EXISTS btdb CASCADE")
    assert not (wh / "btdb.db").exists()


def _sum_merge(prior, batch):
    return (prior.unionByName(batch).groupBy("k")
            .agg(F.sum("v").cast("bigint").alias("v")))


def _sum_fold(merge=_sum_merge):
    return fold.Fold(merge, "k string, v bigint")


def _landed_stream(spark, work, n_rows=6, n_chunks=2):
    df = spark.range(n_rows).selectExpr("'a' AS k", "id AS v")
    landing = work / "landing"
    schema = fold.land_chunks(df, landing, n_chunks, "v")
    return watcher.stream_manifest(spark, str(landing), schema,
                                   max_files_per_trigger=1)


@pytest.mark.parametrize("ids", [(9999, 10000, 10001),
                                 (999_999, 1_000_000, 1_000_001)])
def test_fold_resumes_from_newest_version_by_batch_id(spark, tmp_path, ids):
    """Versions are ordered by parsed batch id: by name, v9999 sorts
    after v10000 (and v999999 after v1000000), so the next batch would
    fold onto a stale version and drop a batch."""
    f = _sum_fold()
    for i, batch_id in enumerate(ids):
        f.step(spark.createDataFrame([("a", 10 ** i)], "k string, v bigint"),
               batch_id, tmp_path)
    assert f.final(spark, tmp_path).collect() == [Row(k="a", v=111)]


def test_drain_sets_partitions_only_around_start(spark, tmp_path):
    """The caller's shuffle partitions (7 here) are replaced by the
    drain's 4 only while the query starts: a thread polling the
    caller's session sees 7 whenever no start() is in flight, while the
    fold's batch session reads 4."""
    seen_in_batch: list[str] = []

    def merge(prior, batch):
        seen_in_batch.append(batch.sparkSession.conf.get(_PARTS))
        return _sum_merge(prior, batch)

    stray: list[str] = []
    stop = threading.Event()

    def watch():
        while not stop.is_set():
            starting = fold._START_LOCK.locked()
            v = spark.conf.get(_PARTS)
            if v != "7" and not (starting or fold._START_LOCK.locked()):
                stray.append(v)
            time.sleep(0.001)

    prev = spark.conf.get(_PARTS)
    spark.conf.set(_PARTS, "7")
    t = threading.Thread(target=watch, daemon=True)
    try:
        stream = _landed_stream(spark, tmp_path)
        t.start()
        state = _sum_fold(merge).run(spark, stream, tmp_path)
        assert state.collect() == [Row(k="a", v=15)]
        assert spark.conf.get(_PARTS) == "7"
    finally:
        stop.set()
        t.join(timeout=10)
        spark.conf.set(_PARTS, prev)
    assert not t.is_alive()
    assert stray == [], f"caller saw the drain's partitions: {stray}"
    assert seen_in_batch and set(seen_in_batch) == {"4"}


def test_concurrent_drains_restore_caller_partitions(spark, tmp_path):
    """Two drains starting on two threads must not lose the caller's
    value: unlocked, A saves 7 and sets 4, B saves 4, A restores 7, B
    restores 4."""
    results: list[list[Row]] = []
    errors: list[BaseException] = []

    def run(i):
        try:
            work = tmp_path / f"drain{i}"
            stream = _landed_stream(spark, work)
            results.append(_sum_fold().run(spark, stream, work).collect())
        except BaseException as exc:  # noqa: BLE001 - reported below
            errors.append(exc)

    prev = spark.conf.get(_PARTS)
    spark.conf.set(_PARTS, "7")
    threads = [threading.Thread(target=run, args=(i,)) for i in range(2)]
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
        assert not any(t.is_alive() for t in threads)
        assert spark.conf.get(_PARTS) == "7"
    finally:
        spark.conf.set(_PARTS, prev)
    assert errors == []
    assert results == [[Row(k="a", v=15)]] * 2


def test_drain_start_scope_under_thread_stress(spark):
    """Many threads draining at once, switching as often as the
    interpreter allows: every start() must see the drain's 4 and the
    caller must end at its own 7. A drain here is a query that has
    already finished, so only the set/start/restore sequence runs."""
    import sys

    class Finished:
        def awaitTermination(self, _seconds):
            return True

    inside: list[str] = []

    def start():
        inside.append(spark.conf.get(_PARTS))
        return Finished()

    def run():
        for _ in range(10):
            fold.drain(spark, start)

    prev, switch = spark.conf.get(_PARTS), sys.getswitchinterval()
    spark.conf.set(_PARTS, "7")
    sys.setswitchinterval(1e-6)
    threads = [threading.Thread(target=run) for _ in range(8)]
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
        assert spark.conf.get(_PARTS) == "7"
    finally:
        sys.setswitchinterval(switch)
        spark.conf.set(_PARTS, prev)
    assert len(inside) == 80 and set(inside) == {"4"}


def test_failing_merge_propagates_and_removes_workdir(spark):
    def boom(prior, batch):
        raise ValueError("merge failed on purpose")

    dirs = []
    with pytest.raises(Exception, match="merge failed on purpose"):
        with scratch.workdir("mouse_fold_test_") as work:
            dirs.append(work)
            _sum_fold(boom).run(spark, _landed_stream(spark, work), work)
    assert len(dirs) == 1 and not dirs[0].exists()


def test_streaming_queries_leave_no_work_dirs(spark):
    """Every w-query removes its work dir, and its answer stays readable
    after the dir is gone. Runs on the small corpus checked in for the
    benchmark (an sf0.01 copy)."""
    from mousedatapipeline_spark.plans import streaming_queries as SQ

    corpus = str(Path(__file__).resolve().parents[1] / "perfbench" / "base")
    tmp = Path(tempfile.gettempdir())
    before = set(tmp.glob("mouse_*"))
    for name in _W_QUERIES:
        rows = getattr(SQ, name)(spark, corpus).collect()
        assert rows, name
    assert set(tmp.glob("mouse_*")) == before
