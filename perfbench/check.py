"""Output checks: each query's result against its DuckDB oracle on the
same generated input, and the CLI's CSV against the generated manifest.

Results are compared as order-insensitive digests under the rules of
``tools/check_correctness.py``, which are imported from there: floats by
``repr`` with signed zero folded, booleans as 0/1, NULL and NaN spelled
out, columns sorted by name, and dtypes mapped to one canonical spelling
on both sides. Oracle digests are cached per generated input, so a seed
pays for DuckDB once.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import importlib.util
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_rules():
    """``tools/check_correctness.py`` as a module. Its module-level code
    reads ``sys.argv`` and prepends to ``sys.path``; both are restored."""
    path = os.path.join(ROOT, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("_check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    argv, syspath = sys.argv, list(sys.path)
    sys.argv = [path]
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.argv, sys.path[:] = argv, syspath
    return mod


_RULES = _load_rules()
canon_spark = _RULES._canon_spark
canon_duck = _RULES._canon_duck


def norm_cell(v) -> str:
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        # Arrow hands Spark timestamps back zoned; DuckDB's are naive UTC.
        v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return _RULES.norm_cell(v)


def digest(cols: list[str], types: list[str], columns: list[list]) -> dict:
    """Order-insensitive digest of a result given column-major values."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(zip(*[[norm_cell(v) for v in columns[i]] for i in order]))
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return {"cols": [cols[i] for i in order],
            "types": [types[i] for i in order],
            "rows": len(rows), "sha256": h.hexdigest()}


def spark_digest(table, dtypes: list[tuple[str, str]]) -> dict:
    """Digest of a Spark result fetched as an Arrow table."""
    cols = [c for c, _ in dtypes]
    return digest(cols, [canon_spark(t) for _, t in dtypes],
                  [table.column(i).to_pylist() for i in range(len(cols))])


def oracle_digests(input_dir: str, oracles: dict[str, str],
                   cache_path: str) -> dict[str, dict]:
    """DuckDB digests for ``oracles`` ({query: sql}) on ``input_dir``,
    cached as JSON at ``cache_path``. A failing oracle maps to
    ``{"error": ...}``."""
    cached: dict[str, dict] = {}
    if os.path.exists(cache_path):
        with open(cache_path) as fh:
            cached = json.load(fh)
    todo = {q: sql for q, sql in oracles.items() if q not in cached}
    if not todo:
        return cached
    import duckdb
    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(input_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(input_dir, f)
                con.execute(f"CREATE VIEW {f[:-8]} AS "
                            f"SELECT * FROM '{path}'")
        for q, sql in todo.items():
            try:
                types = {r[0]: r[1] for r in
                         con.execute(f"DESCRIBE (\n{sql}\n)").fetchall()}
                res = con.execute(sql)
                cols = [d[0] for d in res.description]
                rows = res.fetchall()
            except duckdb.Error as exc:
                cached[q] = {"error": f"{type(exc).__name__}: {exc}"[:300]}
                continue
            columns = [list(c) for c in zip(*rows)] or [[] for _ in cols]
            cached[q] = digest(cols, [canon_duck(types[c]) for c in cols],
                               columns)
    finally:
        con.close()
    tmp = f"{cache_path}.tmp{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(cached, fh, indent=1, sort_keys=True)
    os.replace(tmp, cache_path)
    return cached


def compare(got: dict, want: dict) -> str | None:
    """None when the digests agree, else a one-line reason."""
    if "error" in want:
        return f"oracle failed: {want['error']}"
    for key in ("cols", "types", "rows", "sha256"):
        if got[key] != want[key]:
            return f"{key} differ: spark {got[key]} vs oracle {want[key]}"
    return None


def manifest_keys(input_dir: str) -> list[tuple[int, int]]:
    """(batch, repetition) per measurement: the MOUSE manifest is one row
    per lineitem, keyed by (l_orderkey, l_linenumber)."""
    import pyarrow.parquet as pq
    t = pq.read_table(os.path.join(input_dir, "lineitem.parquet"),
                      columns=["l_orderkey", "l_linenumber"])
    return sorted(zip(t.column(0).to_pylist(), t.column(1).to_pylist()))


def check_cli_csv(out_dir: str, expected: list[tuple[int, int]]) -> str | None:
    """Read the CLI's CSV back; its (batch, repetition) rows must be the
    manifest's, row for row."""
    import pyarrow as pa
    import pyarrow.csv as pacsv
    parts = sorted(f for f in os.listdir(out_dir) if f.endswith(".csv"))
    if not parts:
        return "no CSV part files written"
    opts = pacsv.ConvertOptions(include_columns=["batch", "repetition"],
                                column_types={"batch": pa.int64(),
                                              "repetition": pa.int64()})
    got: list[tuple[int, int]] = []
    for p in parts:
        t = pacsv.read_csv(os.path.join(out_dir, p), convert_options=opts)
        got.extend(zip(t.column(0).to_pylist(), t.column(1).to_pylist()))
    got.sort()
    if len(got) != len(expected):
        return f"CSV has {len(got)} rows, manifest {len(expected)}"
    if got != expected:
        return "CSV (batch, repetition) keys differ from the manifest"
    return None
