"""Pluggable NeXus/HDF5 source: ``spark.read.format("nexus")``.

The DataSource-V2 face of S3-S9 ingestion (SURVEY.md §4 flagged this as
the "thin DataSource later" step): the same declarative
``IngestSchema`` path->column flattening as ``hdf5.ingest_hdf5``, but
exposed through PySpark's Python DataSource API so ingestion composes
like any other format:

    spark.dataSource.register(NexusDataSource)
    df = (spark.read.format("nexus")
          .option("path", "/data/20240101")          # dir of repetition files
          .load())

Planning: ONE InputPartition PER FILE — each file is read by its own
task, so ingestion parallelism equals file count (matching the
reference's per-repetition unit of work) and scales with the cluster,
not the driver. The driver only globs the listing.

File formats: ``.h5``/``.nxs`` via h5py when installed, else the
vendored classic-format reader (``sources/minihdf5.py``) — real HDF5
bytes work everywhere; ``.json`` trees (nested dicts, the same fake
accepted by ``hdf5.read_h5_value``) remain supported for logic
fixtures. Keys (ymd, batch, repetition) parse from the
``{ymd}_{batch}_{repetition}`` stem, like the reference's directory
naming (src/YMD_class.py:33-44).
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from mousedatapipeline_spark.sources.hdf5 import (
    MOUSE_SCHEMA,
    HDF5Mapping,
    IngestSchema,
    flatten_tree,
)

_STEM_RE = re.compile(r"(\d{8})_(\d+)_(\d+)$")


def _parse_keys(path: str) -> dict:
    stem = os.path.splitext(os.path.basename(path))[0]
    # Tolerate prefixes like MOUSE_20240101_2_3 — match the trailing
    # ymd_batch_repetition triple.
    m = _STEM_RE.search(stem)
    if not m:
        return {"ymd": "", "batch": -1, "repetition": -1}
    return {"ymd": m.group(1), "batch": int(m.group(2)),
            "repetition": int(m.group(3))}


def _load_tree(path: str):
    if path.endswith(".json"):
        with open(path, encoding="utf-8") as f:
            return json.load(f)
    # Real HDF5 bytes: h5py when installed, the vendored classic-format
    # reader otherwise (sources/minihdf5.py).
    from mousedatapipeline_spark.sources.hdf5 import open_h5
    return open_h5(path)


def _plain_schema(schema: IngestSchema):
    """The ingest schema with column metadata stripped.

    PythonStreamingSourceRunner's Arrow handshake asserts schema
    equality INCLUDING StructField metadata and fails on any non-empty
    metadata (observed on pyspark 4.1: a source whose schema() carries
    metadata works in batch but crashes readStream planning with
    'java.lang.AssertionError' at readArrowRecordBatches). The source
    therefore serves plain fields; re-attach units/paths afterwards
    with :func:`attach_metadata`.
    """
    from pyspark.sql import types as T

    base = schema.spark_schema()
    return T.StructType([
        T.StructField(f.name, f.dataType, f.nullable) for f in base])


def attach_metadata(df, schema: IngestSchema = MOUSE_SCHEMA):
    """Re-attach the hdf5_path/unit column metadata stripped by the
    source (see _plain_schema)."""
    for m in schema.mappings:
        if m.column in df.columns:
            df = df.withMetadata(m.column,
                                 m.spark_field().metadata)
    return df


def _schema_from_options(options) -> IngestSchema:
    spec = options.get("mapping")
    if not spec:
        return MOUSE_SCHEMA
    mappings = tuple(
        HDF5Mapping(m["source_path"], m["column"], m.get("kind", "float"),
                    m.get("unit"))
        for m in json.loads(spec))
    return IngestSchema(mappings=mappings)


class NexusReader(DataSourceReader):
    def __init__(self, schema: IngestSchema, fields: Sequence[str],
                 options):
        self._schema = schema
        # Yield order follows the RESOLVED read schema Spark hands the
        # source (a user-supplied .schema(...) prunes/reorders); values
        # come from the ingest mapping, unknown fields degrade to NULL.
        self._fields = list(fields)
        root = options.get("path")
        if not root:
            raise ValueError("nexus source requires .option('path', dir)")
        pattern = options.get("glob", "*.json")
        self._files: Sequence[str] = sorted(
            glob.glob(os.path.join(root, pattern)))

    def partitions(self) -> Sequence[InputPartition]:
        # One file per partition: task parallelism == file count.
        return [InputPartition(f) for f in self._files]

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        path = partition.value
        tree = _load_tree(path)
        try:
            row = flatten_tree(tree, self._schema, _parse_keys(path))
        finally:
            close = getattr(tree, "close", None)
            if close:
                close()
        yield tuple(row.get(name) for name in self._fields)


class NexusDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "nexus"

    def schema(self):
        return _plain_schema(_schema_from_options(self.options))

    def reader(self, schema) -> NexusReader:
        return NexusReader(_schema_from_options(self.options),
                           [f.name for f in schema.fields], self.options)

    def simpleStreamReader(self, schema) -> "NexusStreamReader":
        return NexusStreamReader(_schema_from_options(self.options),
                                 [f.name for f in schema.fields],
                                 self.options)


class NexusStreamReader(SimpleDataSourceStreamReader):
    """W1 as a pluggable stream: each micro-batch picks up repetition
    files that appeared since the last offset.

    Offsets are a compact high-water mark
    ``{"hwm": <max mtime_ns processed>, "frontier": [names AT hwm]}``:
    a file is fresh when its mtime is above the mark, or equal to it
    and not in the frontier set. Offset size is O(files sharing the
    newest mtime) — constant in practice — instead of O(all files ever
    processed, which made every checkpointed offset grow without bound
    over a long-lived landing dir. Idempotence (SURVEY.md §2.8 W3) is
    unchanged: each file is read exactly once, and replaying a
    committed range re-reads exactly the files fresh relative to the
    range's start but not its end.

    Contract: landing files must arrive with non-decreasing mtimes
    (true for real landing dirs — the watcher's debounce assumes the
    same); a file backdated below the mark is not picked up, the same
    horizon rule as Spark's own file source beyond its retention
    window. Deleting an already-committed file no longer breaks replay
    of unrelated ranges.
    """

    def __init__(self, schema: IngestSchema, fields: Sequence[str],
                 options):
        self._schema = schema
        self._fields = list(fields)  # resolved read-schema order
        self._root = options.get("path")
        if not self._root:
            raise ValueError("nexus source requires .option('path', dir)")
        self._glob = options.get("glob", "*.json")

    def _listing(self) -> list[str]:
        return sorted(glob.glob(os.path.join(self._root, self._glob)))

    def initialOffset(self) -> dict:
        return {"hwm": -1, "frontier": []}

    def _fresh(self, offset: dict) -> list[str]:
        """Files fresh relative to ``offset``, with their mtimes."""
        hwm = offset.get("hwm", -1)
        frontier = set(offset.get("frontier", []))
        out = []
        for f in self._listing():
            try:
                m = os.stat(f).st_mtime_ns
            except OSError:
                continue  # vanished between glob and stat
            if m > hwm or (m == hwm and f not in frontier):
                out.append(f)
        return out

    def read(self, start: dict):
        fresh = self._fresh(start)
        if not fresh:
            return iter([]), dict(start)
        mtimes = {f: os.stat(f).st_mtime_ns for f in fresh}
        hwm = max(mtimes.values())
        frontier = sorted(f for f, m in mtimes.items() if m == hwm)
        if start.get("hwm") == hwm:  # same-mtime files across batches
            frontier = sorted(set(frontier)
                              | set(start.get("frontier", [])))
        end = {"hwm": hwm, "frontier": frontier}
        # Materialize: Spark's prefetch cache copies this iterator, and
        # generators are neither copyable nor picklable.
        return iter(list(self._rows(fresh))), end

    def readBetweenOffsets(self, start: dict, end: dict):
        in_range = sorted(set(self._fresh(start)) - set(self._fresh(end)))
        return iter(list(self._rows(in_range)))

    def commit(self, end: dict) -> None:
        pass  # offsets are self-contained; nothing external to ack

    def _rows(self, files):
        for path in files:
            tree = _load_tree(path)
            try:
                row = flatten_tree(tree, self._schema, _parse_keys(path))
            finally:
                close = getattr(tree, "close", None)
                if close:
                    close()
            yield tuple(row.get(name) for name in self._fields)
