"""Scratch space, the one way a catalog query writes to disk: open
``with workdir(prefix)``, write and read under it, return
``keep(answer)``. Nothing the query made outlives it."""

from __future__ import annotations

import shutil
import tempfile
from collections.abc import Iterator
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import DataFrame


@contextmanager
def workdir(prefix: str) -> Iterator[Path]:
    """A fresh temp dir, removed on exit — on error too. Return
    ``keep(answer)`` from inside the block: the answer must not read
    from the dir once it is gone."""
    work = Path(tempfile.mkdtemp(prefix=prefix))
    try:
        yield work
    finally:
        shutil.rmtree(work, ignore_errors=True)


def keep(df: DataFrame) -> DataFrame:
    """Materialize a small final answer out of the work dir. An eager
    local checkpoint keeps the Spark types exactly (a collect and
    re-create would not)."""
    return df.localCheckpoint(eager=True)
