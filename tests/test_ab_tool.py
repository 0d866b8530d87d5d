"""``tools/ab.py``: the record it reports per query, and the A/B's restore
of the session's own conf after each B run."""

from __future__ import annotations

import importlib.util
import os
from pathlib import Path

import pytest
from pyspark.sql.streaming import StreamingQueryManager

from __spark_entry__ import SMOKE_SF_DIR
from mousedatapipeline_spark.plans import catalog

ROOT = Path(__file__).resolve().parent.parent
SF_DIR = os.environ.get("SPARK_GRAFT_SMOKE_DIR", SMOKE_SF_DIR)


def _load_ab():
    spec = importlib.util.spec_from_file_location("_ab",
                                                  ROOT / "tools" / "ab.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


ab = _load_ab()


@pytest.fixture
def tracer(spark, monkeypatch):
    """A collector attached to the shared session. ``install()`` is not
    called: its wrappers would stay patched for later tests. The progress
    listener that ``attach`` adds is removed afterwards."""
    added = []
    add = StreamingQueryManager.addListener

    def add_and_keep(self, listener):
        added.append(listener)
        add(self, listener)

    monkeypatch.setattr(StreamingQueryManager, "addListener", add_and_keep)
    t = ab.tracing.Tracer()
    t.attach(spark)
    yield t
    for listener in added:
        spark.streams.removeListener(listener)


@pytest.mark.skipif(not os.path.isdir(SF_DIR),
                    reason=f"no test data at {SF_DIR}")
@pytest.mark.parametrize("name", ["m14_stacked_sink_roundtrip",
                                  "w01_stream_tumbling_counts"])
def test_record_shape(spark, tracer, name):
    run = catalog.spark_queries()[name]
    records = ab.measure(spark, tracer, run, SF_DIR, trials=1)
    assert list(records) == ["A"]
    rec = records["A"]
    assert set(ab.tracing.WORK_KEYS) <= set(rec)
    assert rec["wall_s"] > 0
    assert rec["jobs"] >= 1 and rec["stages"] >= 1
    assert "tables.fits_broadcast.calls" in rec
    if name.startswith("w"):
        assert rec["streaming.batches"] >= 1


def test_ab_restores_the_sessions_own_conf(spark, tracer):
    """Every A trial, including those after a B trial, runs on the conf the
    session had; unsetting B's keys instead would drop the session's values
    for Spark's defaults (200 partitions, a 10 MB threshold)."""
    keys = ("spark.sql.shuffle.partitions",
            "spark.sql.autoBroadcastJoinThreshold")
    before = tuple(spark.conf.get(k) for k in keys)
    seen = []

    def run(s, sf_dir):
        seen.append(tuple(s.conf.get(k) for k in keys))
        return s.range(4)

    records = ab.measure(spark, tracer, run, SF_DIR,
                         {keys[0]: "3", keys[1]: "1MB"}, trials=2)
    assert sorted(records) == ["A", "B"]
    assert seen == [before, ("3", "1MB")] * 2
    assert tuple(spark.conf.get(k) for k in keys) == before


def test_ab_unsets_a_key_the_session_did_not_set(spark):
    key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    assert spark.conf.get(key, None) is None
    with ab.session_confs(spark, {key: "5"}):
        assert spark.conf.get(key) == "5"
    assert spark.conf.get(key, None) is None
