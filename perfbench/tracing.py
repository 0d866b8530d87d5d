"""Traced mode: per-layer spans and counters, recorded from outside the
program.

Wrappers replace public functions of the layer modules (``tables``,
``operators.graph``, ``sources.sinks``, ``streaming.watcher`` and
``streaming.stateful``, ``functions.kernels.beam_analysis``). They must be
installed before ``plans.catalog`` loads the query modules, because those
bind several of the names with ``from ... import`` at import time.

Spark work is attributed by job-id range: the scheduler's next job id is
read before and after a call, and the jobs in between, with their stages,
are read from the in-process status store. Job groups are not used,
because streaming micro-batches run under the stream's own group.
Streaming progress comes from a ``StreamingQueryListener``.

Everything is kept in memory and written out once, at the end of a run.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import statistics
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

PKG = "mousedatapipeline_spark"

# module -> (layer name, wrapped functions; None = every public function
# defined in that module)
LAYERS = {
    f"{PKG}.tables": ("tables", ("load_spread", "pin_keyed",
                                 "pin_partitioned", "fits_broadcast")),
    f"{PKG}.operators.graph": ("operators.graph", ("connected_components",)),
    f"{PKG}.sources.sinks": ("sources.sinks", None),
    f"{PKG}.streaming.watcher": ("streaming.watcher", None),
    f"{PKG}.streaming.stateful": ("streaming.stateful", None),
    f"{PKG}.functions.kernels": ("functions.kernels", ("beam_analysis",)),
}

# Per-stage fields summed into the plans.* record: name -> (field, scale).
_STAGE_SUMS = {
    "task_run_s": (("executorRunTime",), 1e-3),
    "task_cpu_s": (("executorCpuTime",), 1e-9),
    "gc_s": (("jvmGcTime",), 1e-3),
    "input_bytes": (("inputBytes",), 1),
    "shuffle_write_bytes": (("shuffleWriteBytes",), 1),
    "shuffle_write_s": (("shuffleWriteTime",), 1e-9),
    "shuffle_read_bytes": (("shuffleReadBytes",), 1),
    "fetch_wait_s": (("shuffleFetchWaitTime",), 1e-3),
    "spill_bytes": (("memoryBytesSpilled", "diskBytesSpilled"), 1),
    "tasks": (("numCompleteTasks", "numFailedTasks", "numKilledTasks"), 1),
    "tasks_failed": (("numFailedTasks",), 1),
}
WORK_KEYS = ("jobs", "stages", "driver_gap_s") + tuple(_STAGE_SUMS)

# Writers of sources.sinks reported one by one.
SINK_WRITERS = ("write_stacked", "append_metrics_csv", "write_quarantine",
                "upsert_partitions", "compact", "write_bucketed",
                "write_jsonl_shards")


def _public_functions(mod) -> list[str]:
    return [n for n, f in vars(mod).items()
            if not n.startswith("_") and inspect.isfunction(f)
            and f.__module__ == mod.__name__]


def dir_bytes(path) -> int:
    if not isinstance(path, str) or not os.path.exists(path):
        return 0
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class _ProgressListener(StreamingQueryListener):
    def __init__(self, tracer: "Tracer"):
        self._tracer = tracer

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        if not self._tracer.enabled:
            return
        p = event.progress
        ops = p.stateOperators or []
        self._tracer.progress.append({
            "run": str(p.runId), "batch": p.batchId,
            "input_rows": p.numInputRows,
            "ms": {k: int(v) for k, v in (p.durationMs or {}).items()},
            "state_rows": sum(o.numRowsTotal for o in ops),
            "state_commit_ms": sum(o.commitTimeMs for o in ops),
        })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class Tracer:
    """Spans, per-function counters and Spark work records for one run."""

    def __init__(self):
        self.enabled = False
        self.spans: list[dict] = []
        self.progress: list[dict] = []
        self.calls: dict[str, dict[str, float]] = defaultdict(
            lambda: defaultdict(float))
        self._stack: list[int] = []
        self._seen_stages: set[int] = set()
        self._spark = None
        self._mapper = None

    # -- wiring ---------------------------------------------------------
    def install(self) -> None:
        """Wrap the layer functions of the freshly imported package."""
        for modname, (layer, names) in LAYERS.items():
            mod = importlib.import_module(modname)
            for name in names or _public_functions(mod):
                fn = getattr(mod, name)
                setattr(mod, name, self._wrap(fn, f"{layer}.{name}"))

    def attach(self, spark) -> None:
        """Bind to a (new) session: status store, JSON mapper, listener."""
        self._spark = spark
        self._seen_stages = set()
        jvm = spark.sparkContext._jvm
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala,
                            "DefaultScalaModule$")
        mapper.registerModule(scala_mod.__getattr__("MODULE$"))
        self._mapper = mapper
        spark.streams.addListener(_ProgressListener(self))

    def _sc(self):
        return self._spark.sparkContext._jsc.sc()

    def next_job(self) -> int:
        return int(self._sc().dagScheduler().nextJobId())

    def drain_listeners(self) -> None:
        self._sc().listenerBus().waitUntilEmpty()

    # -- spans ----------------------------------------------------------
    def open(self, name: str, **attrs) -> dict:
        span = {"id": len(self.spans),
                "parent": self._stack[-1] if self._stack else None,
                "name": name, "start": time.time(), "end": None, **attrs}
        self.spans.append(span)
        self._stack.append(span["id"])
        return span

    def close(self, span: dict) -> None:
        span["end"] = time.time()
        self._stack.remove(span["id"])

    def _wrap(self, fn, key: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            c = tracer.calls[key]
            pins_before = tracer.calls["tables.pin_partitioned"]["calls"]
            j0 = tracer.next_job()
            span = tracer.open(key)
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                c["s"] += time.perf_counter() - t0
                tracer.close(span)
                c["calls"] += 1
                c["jobs"] += tracer.next_job() - j0
            if key == "tables.load_spread":
                root = out._jdf.queryExecution().logical().nodeName()
                c["spread"] += root.startswith("Repartition")
            elif key == "tables.pin_keyed":
                c["pinned"] += (tracer.calls["tables.pin_partitioned"]
                                ["calls"] > pins_before)
            elif key == "tables.fits_broadcast":
                c["fit"] += bool(out)
            elif key.startswith("sources.sinks."):
                try:
                    bound = inspect.signature(fn).bind(*args, **kwargs)
                    path = bound.arguments.get("path")
                except TypeError:
                    path = None
                c["bytes_written"] += dir_bytes(path)
            return out

        return traced

    # -- Spark work -----------------------------------------------------
    def _json(self, jobj) -> dict:
        return json.loads(self._mapper.writeValueAsString(jobj))

    def work(self, j0: int, j1: int, t0: float, t1: float) -> dict:
        """plans.* record for jobs [j0, j1) run inside wall window
        [t0, t1] (epoch seconds)."""
        store = self._sc().statusStore()
        rec = {k: 0.0 for k in WORK_KEYS}
        stage_ids: list[int] = []
        for j in range(j0, j1):
            try:
                job = self._json(store.job(j))
            except Exception:  # noqa: BLE001 - evicted from the store
                continue
            rec["jobs"] += 1
            stage_ids.extend(job["stageIds"])
        intervals = []
        lo, hi = t0 * 1000.0, t1 * 1000.0
        for sid in sorted(set(stage_ids) - self._seen_stages):
            try:
                st = self._json(store.lastStageAttempt(sid))
            except Exception:  # noqa: BLE001 - evicted from the store
                continue
            if st["status"] == "SKIPPED" or st["submissionTime"] is None:
                continue
            self._seen_stages.add(sid)
            rec["stages"] += 1
            for name, (fields, scale) in _STAGE_SUMS.items():
                rec[name] += sum(st.get(f) or 0 for f in fields) * scale
            end = st["completionTime"] or hi
            intervals.append((max(lo, st["submissionTime"]), min(hi, end)))
        rec["driver_gap_s"] = (t1 - t0) - _union_ms(intervals) / 1000.0
        return rec

    # -- per-pass roll-up ------------------------------------------------
    def take_calls(self) -> dict[str, dict[str, float]]:
        calls = {k: dict(v) for k, v in self.calls.items()}
        self.calls.clear()
        return calls

    def take_progress(self) -> list[dict]:
        events, self.progress = self.progress, []
        return events

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh, indent=1)


def streaming_metrics(events: list[dict]) -> dict[str, float]:
    """streaming.* metrics from one pass's progress events."""
    def total(key):
        return float(sum(e["ms"].get(key, 0) for e in events))
    last_state: dict[str, int] = {}
    for e in events:
        last_state[e["run"]] = e["state_rows"]
    triggers = [e["ms"].get("triggerExecution", 0) for e in events]
    n = len(events)
    return {
        "streaming.batches": float(n),
        "streaming.empty_batch_frac": (
            sum(e["input_rows"] == 0 for e in events) / n if n else 0.0),
        "streaming.trigger_p50_ms": (
            float(statistics.median(triggers)) if triggers else 0.0),
        "streaming.add_batch_ms": total("addBatch"),
        "streaming.planning_ms": total("queryPlanning"),
        "streaming.wal_commit_ms": total("walCommit"),
        "streaming.commit_offsets_ms": total("commitOffsets"),
        "streaming.latest_offset_ms": total("latestOffset"),
        "streaming.input_rows": float(sum(e["input_rows"] for e in events)),
        "streaming.state_rows": float(sum(last_state.values())),
        "streaming.state_commit_ms": float(
            sum(e["state_commit_ms"] for e in events)),
    }


def layer_metrics(calls: dict[str, dict[str, float]]) -> dict[str, float]:
    """tables.* / operators.graph.* / sources.sinks.* metrics from one
    pass's wrapper counters."""
    out: dict[str, float] = {}

    def get(key, field):
        return float(calls.get(key, {}).get(field, 0.0))

    for fn in LAYERS[f"{PKG}.tables"][1]:
        for field in ("calls", "s", "jobs"):
            out[f"tables.{fn}.{field}"] = get(f"tables.{fn}", field)
    for fn, field in (("load_spread", "spread"), ("pin_keyed", "pinned"),
                      ("fits_broadcast", "fit")):
        n = get(f"tables.{fn}", "calls")
        out[f"tables.{fn}.{field}"] = get(f"tables.{fn}", field) / n if n else 0.0
    for field in ("calls", "s", "jobs"):
        out[f"operators.graph.connected_components.{field}"] = get(
            "operators.graph.connected_components", field)
    out["sources.sinks.bytes_written"] = sum(
        get(k, "bytes_written") for k in calls if k.startswith("sources.sinks."))
    for writer in SINK_WRITERS:
        for field in ("calls", "s"):
            out[f"sources.sinks.{writer}.{field}"] = get(
                f"sources.sinks.{writer}", field)
    return out
