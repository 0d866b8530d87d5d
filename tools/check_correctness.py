"""Local stand-in for the driver's correctness gate.

Runs every query in ``__spark_entry__.queries()`` on Spark and its
``oracle_sql()`` counterpart on DuckDB at the same scale factor, then
compares dtypes, row count, sorted column names, and cell values (rows
sorted by their full stringified tuple — order-insensitive, like the
driver's value hash).

Strictness notes (round-1 lesson: m02 passed here but failed the
driver's hash): floats are compared by ``repr`` after normalizing
signed zero — NOT collapsed to ints — and column dtypes are canonically
compared, because the driver's schema/value hash sees both.

A sweep longer than CHUNK queries (the whole catalog by default) runs in
fixed-size chunks, each in its own child process, and merges their
reports: one process over the whole catalog at sf0.1 was killed for
memory around the 30th query on a 15 GB, 4-vCPU machine (peak driver
RSS per query reached ~3 GB), while chunks of ~45 queries passed.

Usage: python tools/check_correctness.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import math
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])

_SPARK_CANON = {
    "bigint": "i64", "int": "i32", "smallint": "i16", "tinyint": "i8",
    "double": "f64", "float": "f32", "string": "str", "boolean": "bool",
    "date": "date", "timestamp": "ts", "timestamp_ntz": "ts",
    "binary": "bin",
}

_DUCK_CANON = {
    "BIGINT": "i64", "INTEGER": "i32", "SMALLINT": "i16", "TINYINT": "i8",
    "DOUBLE": "f64", "FLOAT": "f32", "VARCHAR": "str", "BOOLEAN": "bool",
    "DATE": "date", "BLOB": "bin", "HUGEINT": "i128", "UBIGINT": "u64",
}


def _canon_spark(dt: str) -> str:
    return _SPARK_CANON.get(dt, dt)


def _canon_duck(dt: str) -> str:
    if dt.startswith("TIMESTAMP"):
        return "ts"
    if dt.startswith("DECIMAL"):
        return "dec"
    return _DUCK_CANON.get(dt, dt)


def norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return "0.0"  # fold -0.0 and 0.0 (stable_round emits +0.0)
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def table_repr(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return [cols[i] for i in order], out


# Queries per child process in a chunked sweep.
CHUNK = 25

_VERDICTS = ("PASS ", "FAIL ", "rows-only ")


def sweep(names: list[str]) -> int:
    """Check ``names`` CHUNK at a time, each chunk in a child process;
    pass the children's lines through (a repeated CHECK line once) and
    print the merged totals. A query that a crashed child never
    reported is a FAIL."""
    seen_checks: set[str] = set()
    tally = {v: 0 for v in _VERDICTS}
    for i in range(0, len(names), CHUNK):
        chunk = names[i:i + CHUNK]
        proc = subprocess.Popen(
            [sys.executable, __file__, SF_DIR, *chunk],
            stdout=subprocess.PIPE, text=True)
        reported = set()
        for line in proc.stdout:
            if (not line.strip() or line in seen_checks
                    or line.rstrip().endswith(f"rows-only @ {SF_DIR}")):
                continue  # blank, repeated census, or chunk totals
            if line.startswith("CHECK "):
                seen_checks.add(line)
            verdict = next((v for v in _VERDICTS if line.startswith(v)),
                           None)
            if verdict is not None:
                tally[verdict] += 1
                reported.add(line[len(verdict):].split(":")[0])
            print(line, end="", flush=True)
        if proc.wait() != 0:
            for name in chunk:
                if name not in reported:
                    print(f"FAIL {name}: chunk process exited with "
                          f"code {proc.returncode}", flush=True)
                    tally["FAIL "] += 1
    print(f"\n{tally['PASS ']} pass, {tally['FAIL ']} fail, "
          f"{tally['rows-only ']} rows-only @ {SF_DIR} "
          f"({-(-len(names) // CHUNK)} chunks)")
    return 1 if tally["FAIL "] else 0


def main() -> int:
    if not ONLY or len(ONLY) > CHUNK:
        import __spark_entry__ as entrymod
        return sweep([n for n in entrymod.queries()
                      if not ONLY or n in ONLY])

    import duckdb

    import __spark_entry__ as entrymod
    from mousedatapipeline_spark.session import get_spark
    from mousedatapipeline_spark.tables import TABLE_NAMES

    spark = get_spark("check_correctness")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_rows_only = 0

    # Corpus-level shingle-hash injectivity census (ADVICE r05): every
    # hash-level set size / Jaccard in the MinHash family equals the
    # string-level quantity only if shingle_hash is injective on this
    # corpus's 3-grams (guaranteed for single-byte codepoints by the
    # base-256 positional weights; codepoints >= 256 could cross lanes).
    if not ONLY or any(n.startswith("s") for n in ONLY):
        from mousedatapipeline_spark.operators.similarity import (
            shingle_hash_injective_on)
        from mousedatapipeline_spark.tables import load as load_table
        n_str, n_hash = shingle_hash_injective_on(
            load_table(spark, SF_DIR, "documents"))
        if n_str == n_hash:
            print(f"CHECK shingle-hash injective on corpus: "
                  f"{n_str} distinct 3-grams == {n_hash} hashes")
        else:
            print(f"FAIL shingle-hash census: {n_str} distinct 3-grams "
                  f"but {n_hash} hashes — hash-level dedup is NOT "
                  f"string-level on this corpus")
            n_fail += 1
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            srows = sdf.collect()
            scols = sdf.columns
            stypes = dict(sdf.dtypes)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark raised {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"rows-only {name}: {len(srows)} rows  "
                  f"({time.time()-t0:.1f}s)")
            n_rows_only += 1
            continue
        try:
            otypes = {
                r[0]: r[1] for r in con.execute(
                    f"DESCRIBE (\n{oracles[name]}\n)").fetchall()}
            ores = con.execute(oracles[name])
            ocols = [d[0] for d in ores.description]
            orows = ores.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb raised {type(e).__name__}: {e}")
            n_fail += 1
            continue

        dtype_mismatch = {
            c: (stypes.get(c), otypes.get(c))
            for c in scols
            if _canon_spark(stypes.get(c, "?"))
            != _canon_duck(otypes.get(c, "?"))
        }
        if dtype_mismatch:
            print(f"FAIL {name}: dtypes differ (spark, duck): "
                  f"{dtype_mismatch}")
            n_fail += 1
            continue

        sc, st = table_repr(scols, [tuple(r) for r in srows])
        oc, ot = table_repr(ocols, orows)
        if sc != oc:
            print(f"FAIL {name}: columns differ\n  spark: {sc}\n  duck:  {oc}")
            n_fail += 1
            continue
        if len(st) != len(ot):
            print(f"FAIL {name}: row count {len(st)} vs {len(ot)}")
            n_fail += 1
            continue
        bad = [(a, b) for a, b in zip(st, ot) if a != b]
        if bad:
            print(f"FAIL {name}: {len(bad)}/{len(st)} rows differ; first:")
            print(f"  cols:  {sc}")
            print(f"  spark: {bad[0][0]}")
            print(f"  duck:  {bad[0][1]}")
            n_fail += 1
            continue
        print(f"PASS {name}: {len(st)} rows ({time.time()-t0:.1f}s)")
        n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only @ {SF_DIR}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
