"""Sinks (S11–S13): stacked results, metrics CSV, quarantine.

Reference terminal outputs: a per-(batch, configuration) stacked HDF5
file (src/processstep_stacker.py:78, chunked+gzip, noted "very slow" at
src/post_translation_operation_hdf5_stacker.py:216-226), an appended
CSV metrics table (src/processstep_transmission_thickness_flux_table.py:59-89),
and a stacking-error sideband list
(src/post_translation_operation_hdf5_stacker.py:104-108).

Spark design: Parquet with (year, ymd) partitioning replaces the
stacked HDF5 (columnar + zstd ≫ chunk-1 gzip HDF5); the CSV keeps the
reference's append-with-header contract; rejected rows land in a
quarantine Parquet with their reason instead of a text sideband.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The 14-column metrics row the reference appends per repetition
# (src/processstep_transmission_thickness_flux_table.py:59-77).
METRICS_COLUMNS = (
    "ymd", "batch", "repetition", "configuration", "sample_name",
    "direct_flux", "sample_flux", "transmission", "transmission_corrected",
    "absorption", "thickness", "energy_kev", "scattering_prob",
    "measurement_date",
)


def write_stacked(df: DataFrame, path: str,
                  partition_cols: Sequence[str] = ("year",),
                  mode: str = "overwrite") -> None:
    """S11 — stacked-results sink: partitioned, compressed Parquet.

    Partitioning by coarse date keys gives partition pruning for the
    freshness/re-stack path (F7/W4) and bounds file counts at scale
    (dynamic partition overwrite rewrites only touched partitions).
    """
    (df.write.mode(mode)
     .option("partitionOverwriteMode", "dynamic")
     .option("compression", "zstd")
     .partitionBy(*partition_cols)
     .parquet(path))


def append_metrics_csv(df: DataFrame, path: str,
                       columns: Sequence[str] = METRICS_COLUMNS) -> None:
    """S12 — append the per-repetition metrics table as CSV with header
    (append-only contract of the reference's flux/thickness table)."""
    present = [c for c in columns if c in df.columns]
    (df.select(*present)
     .write.mode("append").option("header", True).csv(path))


def write_quarantine(rejected: DataFrame, path: str) -> None:
    """S13 — rejected-rows sideband: full rows + reject_reason, Parquet
    append (replaces the `.stacking_error_list` text file)."""
    rejected.withColumn("quarantined_at", F.current_timestamp()) \
        .write.mode("append").parquet(path)


def upsert_partitions(df: DataFrame, path: str,
                      partition_cols: Sequence[str]) -> None:
    """Idempotent partition-level upsert: rewrite exactly the partitions
    present in ``df``, leave every other partition untouched.

    This is the reprocessing primitive the reference implements as
    in-place HDF5 mutation (SURVEY S10): re-running a (ymd, batch)
    replaces that day's output atomically per partition. Uses dynamic
    partition overwrite — ``mode("overwrite")`` under
    ``partitionOverwriteMode=dynamic`` only clears partitions the write
    produces. The mode is the per-write option, which overrides the
    session conf, so the session is never touched. Safe to re-run
    (idempotent) and safe at 100 TB: the job touches |changed
    partitions|, never the whole table.
    """
    (df.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy(*partition_cols)
     .parquet(path))


def compact(spark, path: str, target_rows_per_file: int = 1_000_000,
            partition_cols: Sequence[str] | None = None) -> int:
    """Small-file compaction: rewrite a parquet dataset into
    ceil(rows / target_rows_per_file) files (per partition when
    ``partition_cols`` is given), preserving data and partitioning.

    Long-running ingestion (per-trigger appends, per-repetition writes)
    accretes many small files; at scale the file count — not the byte
    count — kills scan planning and NameNode/listing costs. Returns the
    number of files after compaction. The rewrite goes through a temp
    dir then swaps, so readers never see a half-compacted table.
    """
    import math
    import shutil as _sh
    import tempfile as _tmp
    from pathlib import Path as _P

    df = spark.read.parquet(path)
    n_rows = df.count()
    n_files = max(1, math.ceil(n_rows / target_rows_per_file))
    tmp = _tmp.mkdtemp(prefix="compact_", dir=str(_P(path).parent))
    try:
        if partition_cols:
            # Cluster by the partition key so each output dir gets ONE
            # file (hash-colocated), regardless of how many tasks run.
            out = df.repartition(n_files, *partition_cols)
            writer = out.write.mode("overwrite").partitionBy(*partition_cols)
        else:
            writer = df.repartition(n_files).write.mode("overwrite")
        writer.parquet(tmp)
    except BaseException:
        _sh.rmtree(tmp, ignore_errors=True)
        raise
    _sh.rmtree(path)
    _sh.move(tmp, path)
    return len(list(_P(path).rglob("part-*.parquet")))


def write_bucketed(df: DataFrame, table: str, bucket_cols: list[str],
                   n_buckets: int, sort_cols: list[str] | None = None,
                   path: str | None = None) -> None:
    """Persist a table bucketed (and optionally sorted) by join keys.

    THE co-location primitive for 100 TB joins: two tables bucketed by
    the same keys into the same bucket count join with ZERO exchanges —
    every bucket pair meets on one executor (q34 value-checks the
    round trip; test_plan_shapes pins the zero-Exchange plan).
    ``sort_cols`` additionally bucket-sorts the files; note Spark >= 3
    only uses that order to skip the join sort behind the legacy flag
    ``spark.sql.legacy.bucketedTableScan.outputOrdering`` (and only at
    one file per bucket — repartition by the bucket key first to get
    that layout). Worth it for any fact table
    joined repeatedly on the same key (measurements by (ymd, batch),
    documents by doc_id, ...). Bucketing metadata lives in the catalog,
    so this writes a managed table (`saveAsTable`), not a bare path.

    Re-run safety: with the default in-memory catalog the table entry
    dies with the session but its warehouse DIRECTORY persists, and a
    later session's `overwrite` then fails with
    LOCATION_ALREADY_EXISTS — Spark only clears locations the catalog
    knows about, and the conf escape was removed in Spark 3.0. So:
    when the catalog does NOT know `table` (a known table is handled
    by overwrite itself), clear the orphaned managed location, asking
    the session catalog for the path (`defaultTablePath` respects the
    current database, `.db` suffixes and URI encoding — a hand-built
    ``<warehouse>/<table>`` guess gets qualified names wrong). This is
    the same destruction `mode("overwrite")` already promises for the
    table name; only file-scheme locations are touched.
    """
    spark = df.sparkSession
    if path is None and not spark.catalog.tableExists(table):
        import shutil as _sh
        from pathlib import Path as _P
        from urllib.parse import urlparse
        from urllib.request import url2pathname

        parts = table.split(".")
        jvm = spark._jvm
        if len(parts) == 1:
            ident = jvm.org.apache.spark.sql.catalyst.TableIdentifier(
                parts[0])
        else:
            ident = jvm.org.apache.spark.sql.catalyst.TableIdentifier(
                parts[-1], jvm.scala.Some(parts[-2]))
        uri = urlparse(str(spark._jsparkSession.sessionState().catalog()
                           .defaultTablePath(ident)))
        if uri.scheme in ("", "file"):
            loc = _P(url2pathname(uri.path))
            if loc.exists():
                _sh.rmtree(loc)
    w = df.write.mode("overwrite").format("parquet") \
        .bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def write_jsonl_shards(df: DataFrame, path: str, shard_col: str) -> None:
    """Training-data export: one JSONL file per shard directory
    (``shard=<v>/part-*.json``), the interchange format most LLM data
    loaders consume.

    ``repartition(shard_col)`` routes each shard to ONE task so each
    shard directory holds a single file; at 100 TB raise the
    parallelism by salting the shard column into (shard, subfile) —
    the layout contract (one dir per shard) is unchanged.
    """
    (df.repartition(F.col(shard_col))
       .write.mode("overwrite")
       .partitionBy(shard_col)
       .json(path))
