"""Seeded benchmark of the mousedatapipeline_spark engine.

    python3 perfbench/run.py --workload mouse_batch --seed 1 --seconds 4 --trace 0

Run from the repository root. One run is one closed loop with a single
client: the workload's operations (catalog queries, and for
``mouse_batch`` one CLI run) execute back to back in this process on
``local[<cores>]``. A run

1. derives its input from the seed (``gen.py``, cached per seed);
2. sets the engine up once, from the start of this script until the
   session is up, the catalog imported and the Python worker pool warm
   (``setup_s``; input generation is not counted);
3. times one cold pass and one warm pass, reads the live driver heap
   (``live_heap_mb``, so always after the same work), then runs more warm
   passes until ``--seconds`` of warm passes have passed (at least one,
   three when traced). Each operation is timed in wall seconds and in CPU
   seconds of the process tree; ``cold_cpu_s`` and ``pass_cpu_s`` are the
   CPU time of the cold and of the first warm pass;
4. checks every output: the cold pass against DuckDB oracles on the same
   input (``check.py``), the CLI's CSV against the generated manifest,
   and warm passes against the cold pass's row counts;
5. prints one JSON line last: the end-to-end metrics with ``--trace 0``,
   the per-layer metrics with ``--trace 1`` (``tracing.py``).

With ``--trace 1`` warm passes alternate traced and untraced, so the
run also reports the tracing overhead, and a per-query record of every
pass is written to ``perfbench/.work/trace-<workload>-seed<n>.json``.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import importlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PKG = "mousedatapipeline_spark"

# Each workload is a fixed list of operations: a catalog query id, or
# "cli" for `python -m mousedatapipeline_spark --program nostack` writing
# CSV. Why each was chosen is recorded in perfbench/NOTES.md.
WORKLOADS = {
    "mouse_batch": ("cli", "m14", "m20", "w01"),
    "dedup_iterative": ("c06",),
}
# The end-to-end metrics use the first warm pass only: later passes carry
# a share of the JIT's compile work that moves from run to run (NOTES.md).
# Traced runs add a traced and a second untraced pass for the overhead.
MIN_WARM_PASSES = 1

# Work is measured in CPU seconds, not wall seconds: on the shared 4-vCPU
# machine this benchmark was tuned on, CPU steal reached 23% of a pass
# and whole runs ran up to 1.7x slower in wall time, while the CPU time
# of the same pass stayed within a few percent (NOTES.md).
END_TO_END = {
    "setup_s": "s", "cold_cpu_s": "s", "pass_cpu_s": "s",
    "live_heap_mb": "MB", "ok_frac": "ratio",
}


class Op:
    """One timed operation of a pass and what it produced."""

    def __init__(self, name: str):
        self.name = name
        self.build_s = 0.0
        self.action_s = 0.0
        self.cpu_s = 0.0
        self.error: str | None = None
        self.table = None      # Arrow result of a query
        self.dtypes = None
        self.rows = -1
        self.work: dict | None = None

    @property
    def wall_s(self) -> float:
        return self.build_s + self.action_s


class Engine:
    """The system under test, set up in this process."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.spark = None
        self.queries = None
        self.cli = None
        self.times: dict[str, float] = {}

    def setup(self) -> None:
        """Session up, catalog imported, Python worker pool warm."""
        t0 = time.perf_counter()
        session = importlib.import_module(f"{PKG}.session")
        t1 = time.perf_counter()
        self.spark = session.get_spark("perfbench")
        t2 = time.perf_counter()
        if self.tracer is not None:
            self.tracer.install()
            self.tracer.attach(self.spark)
        t3 = time.perf_counter()
        catalog = importlib.import_module(f"{PKG}.plans.catalog")
        self.queries = {n.split("_", 1)[0]: spec
                        for n, spec in catalog.all_queries().items()}
        self.cli = importlib.import_module(f"{PKG}.__main__")
        t4 = time.perf_counter()
        n = session.default_parallelism()
        (self.spark.range(0, 256, 1, n).mapInPandas(_identity, "id long")
         .write.mode("overwrite").format("noop").save())
        t5 = time.perf_counter()
        self.times = {"get_spark_s": t2 - t1,
                      "import_s": (t1 - t0) + (t4 - t3),
                      "pool_warm_s": t5 - t4}

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext
        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is None:
            return
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)

    def peak_rss_mb(self) -> float:
        """Peak resident size of this process plus the driver JVM."""
        from pyspark import SparkContext
        proc = getattr(SparkContext._gateway, "proc", None)
        pids = ["self"] + ([str(proc.pid)] if proc is not None else [])
        kb = 0
        for pid in pids:
            with contextlib.suppress(OSError), \
                    open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        return kb / 1024

    def live_heap_mb(self) -> float:
        """Driver heap in use after forced full GCs: the lowest of six
        readings 0.5 s apart. Python drops its py4j proxies first. The
        context cleaner frees what one collection found only before a
        later one; in probes on c06 the reading fell from 114-138 MB to
        79 MB between the second and the fourth collection."""
        gc.collect()
        jvm = self.spark.sparkContext._jvm
        bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        used = []
        for _ in range(6):
            jvm.java.lang.System.gc()
            time.sleep(0.5)
            used.append(bean.getHeapMemoryUsage().getUsed() / 2**20)
        return min(used)


def _identity(batches):
    yield from batches


def tree_cpu_s() -> float:
    """User and system CPU time of this process and all its live
    descendants (the JVM and the Python workers), each including its
    reaped children."""
    procs: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while /proc was read
            continue
        # fields[1] is the parent pid; [11:15] utime, stime, cutime, cstime
        procs[int(name)] = (int(fields[1]),
                            sum(int(f) for f in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


def run_op(engine: Engine, name: str, input_dir: str, cli_out: str,
           traced: bool) -> Op:
    op = Op(name)
    tracer = engine.tracer if traced else None
    if tracer is not None:
        j0 = tracer.next_job()
        span = tracer.open(f"query.{name}")
    c0 = tree_cpu_s()
    e0 = time.time()
    t0 = time.perf_counter()
    try:
        with contextlib.redirect_stdout(sys.stderr):
            if name == "cli":
                engine.cli.run(["--sf-dir", input_dir, "--program", "nostack",
                                "--output", cli_out, "--format", "csv"],
                               engine.spark)
                op.action_s = time.perf_counter() - t0
            else:
                df = engine.queries[name].spark(engine.spark, input_dir)
                t1 = time.perf_counter()
                op.table = df.toArrow()
                op.action_s = time.perf_counter() - t1
                op.build_s = t1 - t0
                op.rows = op.table.num_rows
                op.dtypes = df.dtypes
    except Exception as exc:  # noqa: BLE001 - a failing operation is
        # counted against the run; the run itself goes on
        op.error = f"{type(exc).__name__}: {exc}"[:500]
        op.build_s = time.perf_counter() - t0
    e1 = time.time()
    op.cpu_s = tree_cpu_s() - c0
    if tracer is not None:
        tracer.close(span)
        tracer.drain_listeners()
        op.work = tracer.work(j0, tracer.next_job(), e0, e1)
    return op


class Run:
    """One benchmark run: passes, checks and metrics."""

    def __init__(self, args, input_dir: str, tmp: str, engine: Engine):
        self.ops = WORKLOADS[args.workload]
        self.trace = bool(args.trace)
        self.input_dir = input_dir
        self.cli_out = os.path.join(tmp, "perfbench_cli_out")
        self.engine = engine
        self.passes: list[dict] = []
        self.failures: list[str] = []
        self.attempted = 0
        self.live_heap_mb = 0.0
        self.manifest = None
        if "cli" in self.ops:
            import check
            self.manifest = check.manifest_keys(input_dir)

    def run_pass(self, traced: bool) -> dict:
        tracer = self.engine.tracer
        if tracer is not None:
            tracer.enabled = traced
            span = tracer.open("pass", index=len(self.passes))
        ops = []
        for name in self.ops:
            op = run_op(self.engine, name, self.input_dir, self.cli_out,
                        traced)
            if name == "cli":
                self._check_cli(op)
            elif self.passes:  # only the cold pass's results are checked
                op.table = None
            ops.append(op)
        if tracer is not None:
            tracer.close(span)
            tracer.enabled = False
        p = {"ops": ops, "traced": traced,
             "wall_s": sum(op.wall_s for op in ops),
             "cpu_s": sum(op.cpu_s for op in ops)}
        if traced:
            p["calls"] = tracer.take_calls()
            p["progress"] = tracer.take_progress()
        self.passes.append(p)
        return p

    def _check_cli(self, op: Op) -> None:
        import check
        if op.error is None:
            op.error = check.check_cli_csv(self.cli_out, self.manifest)
            op.rows = len(self.manifest)
        shutil.rmtree(self.cli_out, ignore_errors=True)

    def measure(self, seconds: float) -> None:
        """Cold pass, then warm passes. Traced runs alternate untraced and
        traced warm passes, so the difference between the two kinds is
        the tracing overhead."""
        self.run_pass(traced=self.trace)
        window = self.run_pass(traced=False)["wall_s"]
        self.live_heap_mb = self.engine.live_heap_mb()
        least = MIN_WARM_PASSES + 2 * self.trace
        while len(self.passes) - 1 < least or window < seconds:
            traced = self.trace and len(self.passes) % 2 == 0
            window += self.run_pass(traced=traced)["wall_s"]

    def check(self, oracle_cache: str) -> None:
        """Cold pass against the oracles; warm passes against the cold
        pass's row counts. Every failure is recorded by operation."""
        import check
        cold = {op.name: op for op in self.passes[0]["ops"]}
        oracles = {}
        for name in self.ops:
            spec = self.engine.queries.get(name)
            if spec is not None and spec.oracle is not None:
                oracles[spec.name] = spec.oracle
        want = check.oracle_digests(self.input_dir, oracles, oracle_cache)
        for name, op in cold.items():
            why = op.error
            if why is None and name != "cli":
                spec = self.engine.queries[name]
                if spec.oracle is not None:
                    why = check.compare(
                        check.spark_digest(op.table, op.dtypes),
                        want[spec.name])
            self._count(0, op, why)
        for i, p in enumerate(self.passes[1:], start=1):
            for op in p["ops"]:
                why = op.error
                if why is None and op.rows != cold[op.name].rows:
                    why = (f"{op.rows} rows, cold pass had "
                           f"{cold[op.name].rows}")
                self._count(i, op, why)

    def _count(self, index: int, op: Op, why: str | None) -> None:
        self.attempted += 1
        if why is not None:
            self.failures.append(f"pass {index} {op.name}: {why}")

    # -- metrics ----------------------------------------------------------
    def end_to_end(self) -> dict:
        return {
            "setup_s": self.engine.times["total_s"],
            "cold_cpu_s": self.passes[0]["cpu_s"],
            "pass_cpu_s": self.passes[1]["cpu_s"],
            "live_heap_mb": self.live_heap_mb,
            "ok_frac": 1.0 - len(self.failures) / self.attempted,
        }

    def per_layer(self, tmp: str) -> dict:
        import tracing
        times = self.engine.times
        traced = [p for p in self.passes[1:] if p["traced"]]
        # The first warm pass still carries JIT compile work, so the
        # overhead is measured against the untraced passes after it.
        untraced = [p for p in self.passes[2:] if not p["traced"]]
        rows = []
        for p in traced:
            m = {}
            ops = p["ops"]
            m["plans.build_s"] = sum(op.build_s for op in ops)
            m["plans.action_s"] = sum(op.action_s for op in ops)
            for key in tracing.WORK_KEYS:
                m[f"plans.{key}"] = sum(op.work[key] for op in ops)
            m.update(tracing.layer_metrics(p["calls"]))
            m.update(tracing.streaming_metrics(p["progress"]))
            rows.append(m)
        out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
        out["session.get_spark_s"] = times["get_spark_s"]
        out["session.rss_peak_mb"] = self.engine.peak_rss_mb()
        out["plans.import_s"] = times["import_s"]
        out["plans.tmp_bytes_left"] = float(tracing.dir_bytes(tmp))
        out["trace.overhead_s"] = (
            statistics.median(p["wall_s"] for p in traced)
            - statistics.median(p["wall_s"] for p in untraced))
        return out

    def records(self) -> list[dict]:
        """Per-query records of every pass, for the trace artifact."""
        out = []
        for i, p in enumerate(self.passes):
            for op in p["ops"]:
                out.append({"pass": i, "traced": p["traced"],
                            "query": op.name, "build_s": op.build_s,
                            "action_s": op.action_s, "rows": op.rows,
                            "error": op.error, "plans": op.work})
        return out


def _environment(run_dir: str) -> str:
    """Point every temp dir of this process, the JVM and the Python
    workers into ``run_dir``; size the driver to the box."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    cores = len(os.sched_getaffinity(0))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM_GB"] = str(
        max(1, min(8, int(mem_gb // 4))))
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # Every JVM started (the launcher and the driver) keeps its temp
    # files in the run dir and writes no perf-data file to /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={local} -XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        # Keep every job and stage readable for per-query attribution.
        "--conf spark.ui.retainedJobs=1000000",
        "--conf spark.ui.retainedStages=1000000",
        "--conf spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])
    return tmp


def _fmt(v: float) -> str:
    return f"{v:.6g}"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="thin the growing tables (self-test: 0.1)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PKG, "plans", "catalog.py")):
        print(f"perfbench: {PKG} not found under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import gen

    t_gen = time.perf_counter()
    input_dir = gen.cached_input(os.path.join(WORK, "inputs"), args.seed,
                                 args.scale)
    t_gen = time.perf_counter() - t_gen
    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=WORK)
    engine = None
    try:
        tmp = _environment(run_dir)
        import tracing
        engine = Engine(tracing.Tracer() if args.trace else None)
        engine.setup()
        # Set-up from the start of this script: interpreter, pyspark
        # imports and JVM launch count, input generation does not.
        engine.times["total_s"] = time.perf_counter() - T_START - t_gen
        run = Run(args, input_dir, tmp, engine)
        run.measure(args.seconds)
        oracle_cache = os.path.join(
            WORK, "oracles", f"seed{args.seed}-x{args.scale:g}.json")
        os.makedirs(os.path.dirname(oracle_cache), exist_ok=True)
        run.check(oracle_cache)
        e2e = run.end_to_end()
        if args.trace:
            layers = run.per_layer(tmp)
            engine.tracer.dump(
                os.path.join(WORK, f"trace-{args.workload}-seed{args.seed}"
                                   ".json"),
                {"workload": args.workload, "seed": args.seed,
                 "setup": engine.times,
                 "end_to_end_traced": _with_units(e2e),
                 "per_layer": layers, "failures": run.failures,
                 "records": run.records()})
    finally:
        if engine is not None:
            engine.shutdown()
        shutil.rmtree(run_dir, ignore_errors=True)

    for f in run.failures:
        print(f"FAILED {f}")
    for i, name in enumerate(run.ops):
        ops = [p["ops"][i] for p in run.passes]
        print(f"# {name}: wall cold {ops[0].wall_s:.3f}, warm "
              + " ".join(f"{op.wall_s:.3f}" for op in ops[1:])
              + f" s; CPU cold {ops[0].cpu_s:.2f}, warm "
              + " ".join(f"{op.cpu_s:.2f}" for op in ops[1:]) + " s")
    shown = layers if args.trace else e2e
    for k, v in shown.items():
        unit = END_TO_END.get(k) or _layer_unit(k)
        print(f"{k} {_fmt(v)} {unit}")
    print(f"# setup {engine.times['total_s']:.2f} s; "
          f"run {time.perf_counter() - T_START:.1f} s in total")
    print(f"# {args.workload} seed={args.seed}: {len(run.ops)} operations, "
          f"{len(run.passes) - 1} warm passes, {run.attempted} checked, "
          f"{len(run.failures)} failed")
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": _with_units(shown),
    }))
    return 0


def _with_units(metrics: dict) -> dict:
    return {k: {"value": v, "unit": END_TO_END.get(k) or _layer_unit(k)}
            for k, v in metrics.items()}


def _layer_unit(name: str) -> str:
    if name.endswith((".calls", ".jobs", ".stages", ".tasks",
                      ".tasks_failed", ".batches")):
        return "count"
    if name.endswith(("_bytes", ".bytes_written", "bytes_left")):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_rows"):
        return "rows"
    return "ratio"


if __name__ == "__main__":
    sys.exit(main())
