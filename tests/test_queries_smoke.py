"""Smoke: every catalog query runs at sf0.001 and returns a stable
schema, and leaves nothing behind: the session's conf, its catalog and
the temp dir read the same after the answer is counted as before the
query started. The full DuckDB-oracle value comparison lives in
tools/check_correctness.py (and the driver's gate at sf0.01)."""

from __future__ import annotations

import os
import tempfile
from pathlib import Path

import pytest

from mousedatapipeline_spark.plans import catalog

SF_DIR = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")

_needs_data = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"no test data at {SF_DIR}")


def _snapshot(spark) -> tuple:
    return (dict(spark.conf.getAll),
            sorted((t.database, t.name) for t in spark.catalog.listTables()),
            sorted(p.name for p in
                   Path(tempfile.gettempdir()).glob("mouse_*")))


@_needs_data
@pytest.mark.parametrize("name", sorted(catalog.all_queries()))
def test_query_runs_and_has_rows(spark, name, tmp_path, monkeypatch):
    # A private temp dir: another process's scratch dirs cannot show up.
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    spec = catalog.all_queries()[name]
    before = _snapshot(spark)
    df = spec.spark(spark, SF_DIR)
    assert df.columns, "query must project at least one column"
    assert df.count() >= 0
    assert _snapshot(spark) == before
