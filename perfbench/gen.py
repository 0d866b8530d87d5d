"""Seeded input generator for the benchmark (pyarrow + numpy only).

The base is a frozen copy of the synthetic sf0.01 star schema in
``perfbench/base``. A seed derives an input directory from it by dropping
a seed-chosen ~5% of key groups: orders together with their lineitems,
documents, embeddings, and every event of a dropped user. Schemas, row
order and the remaining tables are kept as they are, so every catalog
query reads a slightly different but structurally identical corpus.

``scale`` < 1 additionally thins the order and event groups (the tables
that grow with the TPC-H scale factor), which gives an sf0.001-sized
input for the self-test.

Generation never imports the system under test.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "base")
TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")
DROP_FRAC = 0.05

# Key-group families, in the order their draws are taken from the seed's
# stream: (key column of the owning table, {table: key column}).
_GROUPS = (
    ("orders", "o_orderkey", {"orders": "o_orderkey",
                              "lineitem": "l_orderkey"}),
    ("documents", "doc_id", {"documents": "doc_id"}),
    ("embeddings", "vec_id", {"embeddings": "vec_id"}),
    ("events", "user_id", {"events": "user_id"}),
)
_SCALED = {"orders", "events"}


def _kept_keys(rng: np.random.Generator, keys: np.ndarray,
               scale: float) -> np.ndarray:
    u = rng.random(len(keys))
    keep = (u >= DROP_FRAC) & (u < DROP_FRAC + (1.0 - DROP_FRAC) * scale)
    return keys[keep]


def generate(out_dir: str, seed: int, scale: float = 1.0) -> str:
    """Write the derived tables for ``seed`` into ``out_dir`` (created).

    The same (seed, scale) always produces byte-identical files."""
    if not 0.0 < scale <= 1.0:
        raise ValueError(f"scale must be in (0, 1], got {scale}")
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    derived: dict[str, object] = {}
    for owner, key, members in _GROUPS:
        base = pq.read_table(os.path.join(BASE_DIR, f"{owner}.parquet"),
                             columns=[key])
        keys = np.unique(base.column(key).to_numpy())
        kept = _kept_keys(rng, keys, scale if owner in _SCALED else 1.0)
        for table, col in members.items():
            t = pq.read_table(os.path.join(BASE_DIR, f"{table}.parquet"))
            derived[table] = t.filter(pc.is_in(t.column(col),
                                               value_set=pa.array(kept)))
    for table in TABLES:
        dst = os.path.join(out_dir, f"{table}.parquet")
        if table in derived:
            pq.write_table(derived[table], dst)
        else:
            shutil.copyfile(os.path.join(BASE_DIR, f"{table}.parquet"), dst)
    return out_dir


def cached_input(cache_root: str, seed: int, scale: float = 1.0) -> str:
    """Generated input for (seed, scale) under ``cache_root``, generating
    it on first use. A finished directory is published by one rename, so
    an interrupted run never leaves a half-written input behind."""
    final = os.path.join(cache_root, f"seed{seed}-x{scale:g}")
    if os.path.isdir(final):
        return final
    os.makedirs(cache_root, exist_ok=True)
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    generate(tmp, seed, scale)
    try:
        os.rename(tmp, final)
    except OSError:  # another run published the same input first
        shutil.rmtree(tmp, ignore_errors=True)
    return final
