"""Excel logbook source (S6): the (ymd, batch) → sample-metadata
dimension table.

Reference: `Logbook2MouseReader` loads an Excel workbook once per run;
entries carry ymd, batchnum, background/dispersant-background pointers,
sample id, project, thickness, positions
(src/directory_processor.py:30-33, src/processstep_metadata_update.py:41-48,
217-235). Lookups are first-match by (ymd, batchnum) in file order.

Spark design: read driver-side with pandas (the logbook is tiny), then
broadcast-join. The loaded logbook is unique on (ymd, batch): the
first use-flagged entry of each key in file order wins, here, so J1
(joins.broadcast_lookup) joins it as-is with one output row per
measurement. openpyxl may be absent (it is in this container), so a
CSV fallback with the same schema keeps the path testable; '{None}'
sentinels become real NULLs at this boundary (SURVEY.md P15 note).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LOGBOOK_COLUMNS = (
    "ymd", "batch", "sample_name", "project", "samplethickness",
    "bg_ymd", "bg_batch", "dbg_ymd", "dbg_batch", "use",
)


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    for c in LOGBOOK_COLUMNS:
        if c not in pdf.columns:
            pdf[c] = None
    pdf = pdf[list(LOGBOOK_COLUMNS)].copy()
    # 'None' string sentinels -> real NULL at the boundary (P15).
    return pdf.replace({"None": None, "": None})


def load_logbook(spark: SparkSession, path: str) -> DataFrame:
    """Load the logbook (xlsx via pandas/openpyxl, or csv fallback) as a
    dimension DataFrame unique on (ymd, batch), ready for
    broadcast_lookup (J1)."""
    if path.endswith((".xlsx", ".xls")):
        try:
            pdf = pd.read_excel(path)  # needs openpyxl
        except ImportError as e:  # pragma: no cover
            raise ImportError(
                "reading .xlsx logbooks requires openpyxl; convert to "
                "CSV with the same columns instead") from e
    else:
        pdf = pd.read_csv(path, dtype={"ymd": str, "bg_ymd": str,
                                       "dbg_ymd": str})
    norm = _normalize(pdf)
    norm = norm.astype(object).where(pd.notna(norm), None)
    # Only entries flagged for processing are searched
    # (MOUSE_settings.yaml:14 "set the use flag to True for all entries
    # that should be searched"); a missing column (all NULL after
    # _normalize) keeps every row for fixture logbooks that predate
    # the flag.
    use = norm["use"].map(
        lambda v: v is None or str(v).lower() in ("true", "1", "1.0"))
    # astype: an empty map is object-typed, which pandas would take as
    # column labels and drop every column.
    norm = norm[use.astype(bool)]
    # First match in file order (src/processstep_metadata_update.py:41-48),
    # on the key as Spark casts it below: batch "1" and "1.0" are one key.
    key = pd.DataFrame({
        "ymd": norm["ymd"].map(lambda v: None if v is None else str(v)),
        "batch": np.trunc(pd.to_numeric(norm["batch"], errors="coerce")),
    })
    norm = norm[~key.duplicated(keep="first")].drop(columns="use")
    # Explicit schema: inference fails on all-NULL columns (e.g. no
    # dispersant background anywhere in the logbook).
    schema = ("ymd string, batch string, sample_name string, "
              "project string, samplethickness string, bg_ymd string, "
              "bg_batch string, dbg_ymd string, dbg_batch string")
    rows = [tuple(None if v is None else str(v) for v in r)
            for r in norm.itertuples(index=False)]
    df = spark.createDataFrame(rows, schema)
    return (
        df.withColumn("batch", F.col("batch").cast("double").cast("int"))
        .withColumn("bg_batch",
                    F.col("bg_batch").cast("double").cast("int"))
        .withColumn("dbg_batch",
                    F.col("dbg_batch").cast("double").cast("int"))
        .withColumn("samplethickness",
                    F.col("samplethickness").cast("double"))
    )
