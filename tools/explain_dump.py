"""Dump .explain('formatted') for catalog queries to plans/<tag>/.

Usage: python tools/explain_dump.py <tag> [query ...]

Writes plans/<tag>/<query>_<suffix>.txt where <suffix> comes from
$EXPLAIN_SUFFIX (default "before"). With no query names, dumps every
catalog query. Streaming (w*) queries are skipped unless named
explicitly: their registered callables RUN a streaming drain and return
the sink read — the interesting plan is the drain, which explain()
cannot show without executing it.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    import __spark_entry__ as entrymod
    from mousedatapipeline_spark.session import get_spark

    tag = sys.argv[1] if len(sys.argv) > 1 else "r10"
    only = sys.argv[2:]
    suffix = os.environ.get("EXPLAIN_SUFFIX", "before")
    outdir = os.path.join(REPO, "plans", tag)
    os.makedirs(outdir, exist_ok=True)

    spark = get_spark("explain_dump")
    qs = entrymod.queries()
    names = only or [n for n in qs if not n.startswith("w")]
    for name in names:
        if name not in qs:
            print(f"SKIP {name}: not in catalog", file=sys.stderr)
            continue
        try:
            df = qs[name](spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        except Exception as exc:  # noqa: BLE001
            print(f"ERROR {name}: {exc}", file=sys.stderr)
            continue
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange)")


if __name__ == "__main__":
    main()
