"""Per-query execution records, and interleaved A/Bs of session confs.

    python tools/ab.py q01_pricing_summary w01_stream_tumbling_counts
    python tools/ab.py s19_lsh_verified_neardup \
        --conf spark.sql.shuffle.partitions=8 --out ab.json

Every named query runs in one warm session built by ``session.get_spark``.
Variant A is that session as built. With ``--conf k=v`` pairs, variant B
runs with them set, interleaved A, B, A, B over three trials: single-run
times on a shared machine swing more than a sequential comparison can
resolve. Each B key's value is read before it is set and set back after
the run, so every A trial runs on the session's own conf.

Each query and variant prints its fastest trial's wall time and record
from perfbench's collector (``perfbench/tracing.py``, UI off): jobs,
stages, task CPU, GC, shuffle, spill, driver gap, which scale gates fired
and, for runs that stream, ``streaming.*``. ``--out`` writes the records
as JSON. To compare two versions of the code, run this in each checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "mousedatapipeline_spark"
TRIALS = 3


def _load_tracing():
    """``perfbench/tracing.py`` as a module (``perfbench`` is no package)."""
    path = os.path.join(ROOT, "perfbench", "tracing.py")
    spec = importlib.util.spec_from_file_location("_tracing", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


tracing = _load_tracing()


@contextlib.contextmanager
def session_confs(spark, confs: dict[str, str]):
    """``confs`` set on ``spark`` inside the block. On the way out each key
    gets back the value it had, or is unset again if it had none: unsetting
    a key that ``get_spark`` set would fall back to Spark's default."""
    before = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def traced_run(spark, tracer, run, sf_dir: str) -> dict[str, float]:
    """Run one query to a no-op sink; its wall time and record."""
    j0 = tracer.next_job()
    tracer.enabled = True
    t0 = time.time()
    try:
        run(spark, sf_dir).write.mode("overwrite").format("noop").save()
    finally:
        t1 = time.time()
        tracer.enabled = False
    tracer.drain_listeners()
    rec = {"wall_s": t1 - t0, **tracer.work(j0, tracer.next_job(), t0, t1),
           **tracing.layer_metrics(tracer.take_calls())}
    progress = tracer.take_progress()
    if progress:
        rec.update(tracing.streaming_metrics(progress))
    return rec


def measure(spark, tracer, run, sf_dir: str,
            confs: dict[str, str] | None = None,
            trials: int = TRIALS) -> dict[str, dict[str, float]]:
    """The fastest trial's record per variant: ``A`` as the session stands,
    and ``B`` under ``confs`` when given, interleaved A, B, A, B."""
    variants = {"A": {}, **({"B": confs} if confs else {})}
    best: dict[str, dict[str, float]] = {}
    for _ in range(trials):
        for variant, cs in variants.items():
            with session_confs(spark, cs):
                rec = traced_run(spark, tracer, run, sf_dir)
            if variant not in best or rec["wall_s"] < best[variant]["wall_s"]:
                best[variant] = rec
    return best


def show(name: str, variant: str, rec: dict[str, float]) -> str:
    """One line: wall time, work fields, gate calls, the nonzero rest."""
    keep = ("wall_s",) + tracing.WORK_KEYS + tuple(
        k for k in rec if k.startswith("tables.") and k.endswith(".calls"))
    fields = list(keep) + [k for k, v in rec.items() if k not in keep and v]
    return " ".join([name, variant] + [f"{k}={rec[k]:.4g}" for k in fields])


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(
        description="Per-query execution records and conf A/Bs.")
    ap.add_argument("queries", nargs="+", help="catalog query names")
    ap.add_argument("--conf", action="append", default=[], metavar="K=V",
                    help="a runtime conf of variant B (repeatable)")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--out", help="write the records as JSON here")
    args = ap.parse_args(argv)
    if any("=" not in kv for kv in args.conf):
        ap.error("--conf takes K=V")
    confs = dict(kv.split("=", 1) for kv in args.conf)

    sys.path.insert(0, ROOT)
    spark = importlib.import_module(f"{PKG}.session").get_spark("ab")
    tracer = tracing.Tracer()
    # The wrappers must be in place before the catalog's query modules
    # bind the layer functions by name.
    tracer.install()
    tracer.attach(spark)
    queries = importlib.import_module(f"{PKG}.plans.catalog").spark_queries()
    unknown = [n for n in args.queries if n not in queries]
    if unknown:
        ap.error(f"unknown queries: {', '.join(unknown)}")

    # Warm the JVM and the parquet footer cache; not reported.
    traced_run(spark, tracer, queries[args.queries[0]], args.sf_dir)
    records = {}
    for name in args.queries:
        records[name] = measure(spark, tracer, queries[name], args.sf_dir,
                                confs)
        for variant, rec in records[name].items():
            print(show(name, variant, rec), flush=True)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"sf_dir": args.sf_dir, "confs": confs,
                       "trials": TRIALS, "records": records}, fh, indent=1)


if __name__ == "__main__":
    main()
