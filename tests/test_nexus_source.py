"""The pluggable "nexus" Python DataSource: registration, per-file
partition planning, key parsing, custom mappings, and the defensive
degradation contract shared with hdf5.read_h5_value."""

from __future__ import annotations

import json

import pytest

from mousedatapipeline_spark.sources.nexus_source import (
    NexusDataSource,
    NexusReader,
    _parse_keys,
)


def _write_tree(dirpath, name, tree):
    p = dirpath / f"{name}.json"
    p.write_text(json.dumps(tree))
    return p


TREE = {
    "entry": {
        "instrument": {"detector00": {"data": [[1.0, 2.0], [3.0, 4.0]]}},
        "sample": {"transmission": 0.7, "thickness": 0.1,
                   "mu": 10.0, "name": "demo"},
        "collection_identifier": "20240101_2",
    }
}


@pytest.fixture()
def landing(tmp_path):
    d = tmp_path / "nexus"
    d.mkdir()
    _write_tree(d, "MOUSE_20240101_2_1", TREE)
    _write_tree(d, "MOUSE_20240101_2_2", TREE)
    # A sparse tree: every missing float degrades to 0.0, strings to ''.
    _write_tree(d, "MOUSE_20240102_1_1", {"entry": {}})
    return d


def test_register_and_read(spark, landing):
    spark.dataSource.register(NexusDataSource)
    df = (spark.read.format("nexus")
          .option("path", str(landing)).load())
    rows = {(r["ymd"], r["batch"], r["repetition"]): r
            for r in df.collect()}
    assert set(rows) == {("20240101", 2, 1), ("20240101", 2, 2),
                         ("20240102", 1, 1)}
    full = rows[("20240101", 2, 1)]
    assert full["transmission"] == pytest.approx(0.7)
    sparse = rows[("20240102", 1, 1)]
    assert sparse["transmission"] == 0.0  # defensive float degrade
    assert sparse["sample_name"] == ""    # defensive string degrade


def test_partition_per_file(landing):
    reader = NexusReader.__new__(NexusReader)
    from mousedatapipeline_spark.sources.hdf5 import MOUSE_SCHEMA
    reader._schema = MOUSE_SCHEMA
    reader._files = sorted(str(p) for p in landing.glob("*.json"))
    assert len(reader.partitions()) == 3


def test_custom_mapping_option(spark, landing):
    spark.dataSource.register(NexusDataSource)
    mapping = json.dumps([
        {"source_path": "/entry/sample/mu", "column": "mu"},
        {"source_path": "/entry/collection_identifier",
         "column": "cid", "kind": "string"},
    ])
    df = (spark.read.format("nexus")
          .option("path", str(landing))
          .option("mapping", mapping).load())
    assert set(df.columns) == {"ymd", "batch", "repetition", "mu", "cid"}
    got = {r["repetition"]: r for r in
           df.filter("ymd = '20240101'").collect()}
    assert got[1]["mu"] == pytest.approx(10.0)
    assert got[1]["cid"] == "20240101_2"


def test_key_parse_tolerates_prefix_and_garbage():
    assert _parse_keys("/x/MOUSE_20240101_2_3.nxs") == {
        "ymd": "20240101", "batch": 2, "repetition": 3}
    assert _parse_keys("/x/20240101_12_0.json")["batch"] == 12
    assert _parse_keys("/x/not_a_key.json")["batch"] == -1


def test_stream_reader_incremental_batches(spark, landing, tmp_path):
    """Batch 0 drains the initial files; a file that lands after the
    first trigger arrives in a later batch exactly once."""
    spark.dataSource.register(NexusDataSource)
    sink = tmp_path / "sink"
    ckpt = tmp_path / "ckpt"

    def start_drain():
        return (spark.readStream.format("nexus")
                .option("path", str(landing)).load()
                .select("ymd", "batch", "repetition", "transmission")
                .writeStream.format("parquet")
                .option("path", str(sink))
                .option("checkpointLocation", str(ckpt))
                .trigger(availableNow=True)
                .start())

    q = start_drain()
    q.awaitTermination(120)
    first = spark.read.parquet(str(sink))
    assert first.count() == 3

    _write_tree(landing, "MOUSE_20240103_5_1", TREE)
    q = start_drain()
    q.awaitTermination(120)
    rows = spark.read.parquet(str(sink)).collect()
    assert len(rows) == 4  # new file exactly once, no replays
    keys = {(r["ymd"], r["batch"], r["repetition"]) for r in rows}
    assert ("20240103", 5, 1) in keys


def test_attach_metadata_restores_units(spark, landing):
    from mousedatapipeline_spark.sources.nexus_source import attach_metadata
    spark.dataSource.register(NexusDataSource)
    df = (spark.read.format("nexus")
          .option("path", str(landing)).load())
    # The source serves plain fields (streaming Arrow handshake chokes
    # on field metadata); the helper restores unit/path annotations.
    assert df.schema["wavelength"].metadata == {}
    df2 = attach_metadata(df)
    assert df2.schema["wavelength"].metadata["unit"] == "nm"
    assert df2.schema["transmission"].metadata["hdf5_path"] \
        == "/entry/sample/transmission"


def test_user_schema_prunes_and_reorders(spark, landing):
    """A user-supplied .schema(...) must bind values by NAME, not by
    the source's internal field order."""
    spark.dataSource.register(NexusDataSource)
    df = (spark.read.format("nexus")
          .schema("transmission double, ymd string, batch int")
          .option("path", str(landing)).load())
    rows = {(r["ymd"], r["batch"]): r["transmission"]
            for r in df.collect()}
    assert rows[("20240101", 2)] == pytest.approx(0.7)
    assert rows[("20240102", 1)] == 0.0


def test_stream_offsets_are_compact_high_water_marks(landing):
    """The stream offset must stay O(files at the newest mtime), not
    O(all files ever processed) — a long-lived landing dir would
    otherwise grow every checkpointed offset without bound."""
    import os
    from mousedatapipeline_spark.sources.nexus_source import (
        NexusStreamReader,
    )
    from mousedatapipeline_spark.sources.hdf5 import MOUSE_SCHEMA

    r = NexusStreamReader(MOUSE_SCHEMA,
                          ["ymd", "batch", "repetition", "transmission"],
                          {"path": str(landing)})
    o0 = r.initialOffset()
    rows1, o1 = r.read(o0)
    assert len(list(rows1)) == 3
    assert "processed" not in o1 and "hwm" in o1
    # Frontier holds only names AT the high-water mtime.
    hwm_names = {f for f in r._listing()
                 if os.stat(f).st_mtime_ns == o1["hwm"]}
    assert set(o1["frontier"]) == hwm_names

    # Nothing new -> empty batch, offset unchanged.
    rows_none, o1b = r.read(o1)
    assert list(rows_none) == [] and o1b == o1

    # A late-landing file arrives exactly once.
    p = _write_tree(landing, "MOUSE_20240103_5_1", TREE)
    os.utime(p, ns=(o1["hwm"] + 10**9, o1["hwm"] + 10**9))
    rows2, o2 = r.read(o1)
    assert len(list(rows2)) == 1
    assert o2["hwm"] > o1["hwm"] and len(o2["frontier"]) == 1

    # Replay of the committed first range re-reads exactly its files.
    replay = list(r.readBetweenOffsets(o0, o1))
    assert len(replay) == 3
    # ...even after a file from ANOTHER range is deleted.
    p.unlink()
    assert len(list(r.readBetweenOffsets(o0, o1))) == 3


def test_h5py_round_trip_matches_dict_tree():
    """Real-HDF5 parity: the h5py branch of read_h5_value/flatten_tree
    must produce the same row as the dict-tree fake. Skips in this
    container (no h5py); runs wherever h5py is installed."""
    h5py = pytest.importorskip("h5py")
    import tempfile
    from mousedatapipeline_spark.sources.hdf5 import (
        MOUSE_SCHEMA,
        flatten_tree,
    )

    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/MOUSE_20240101_2_1.h5"
        with h5py.File(path, "w") as f:
            f["/entry/instrument/detector00/data"] = [[1.0, 2.0],
                                                      [3.0, 4.0]]
            f["/entry/sample/transmission"] = 0.7
            f["/entry/sample/thickness"] = 0.1
            f["/entry/sample/mu"] = 10.0
            f["/entry/sample/name"] = "demo"
            f["/entry/collection_identifier"] = "20240101_2"
        keys = _parse_keys(path)
        with h5py.File(path, "r") as f:
            via_h5 = flatten_tree(f, MOUSE_SCHEMA, keys)
    via_dict = flatten_tree(TREE, MOUSE_SCHEMA, keys)
    assert via_h5 == via_dict
