"""Dump .explain('formatted') for catalog queries to plans/<tag>/.

Usage: python tools/explain_dump.py <tag> [query ...]

Writes plans/<tag>/<query>_<suffix>.txt where <suffix> comes from
$EXPLAIN_SUFFIX (default "before"). With no query names, dumps every
catalog query. A query that materializes part of itself while it is
built (an eager checkpoint, a driver collect) shows that part in its
final plan only as ``Scan ExistingRDD``; the physical plans of the SQL
executions whose jobs ran during the build are written after the final
plan, one section each. Streaming (w*) queries are skipped unless named
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


def sql_plans(spark, j0: int, j1: int) -> list[str]:
    """Physical plans of the SQL executions whose jobs started in the
    job-id range [j0, j1), from the status store (no UI needed)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    plans = []
    for i in range(execs.size()):
        e = execs.apply(i)
        ids, it = [], e.jobs().keysIterator()
        while it.hasNext():
            ids.append(int(it.next()))
        if ids and j0 <= min(ids) < j1:
            plans.append(e.physicalPlanDescription())
    return plans


def main() -> None:
    import __spark_entry__ as entrymod
    from mousedatapipeline_spark.session import get_spark

    tag = sys.argv[1] if len(sys.argv) > 1 else "r10"
    only = sys.argv[2:]
    suffix = os.environ.get("EXPLAIN_SUFFIX", "before")
    outdir = os.path.join(REPO, "plans", tag)
    os.makedirs(outdir, exist_ok=True)

    spark = get_spark("explain_dump")
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    qs = entrymod.queries()
    names = only or [n for n in qs if not n.startswith("w")]
    for name in names:
        if name not in qs:
            print(f"SKIP {name}: not in catalog", file=sys.stderr)
            continue
        try:
            j0 = dag.nextJobId()
            df = qs[name](spark, SF_DIR)
            built = sql_plans(spark, j0, dag.nextJobId())
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        except Exception as exc:  # noqa: BLE001
            print(f"ERROR {name}: {exc}", file=sys.stderr)
            continue
        for k, part in enumerate(built, 1):
            plan += (f"\n== Run during the build ({k} of {len(built)}) "
                     f"==\n{part}\n")
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange, "
              f"{len(built)} run during the build)")


if __name__ == "__main__":
    main()
