"""Self-test of the benchmark: the generator's determinism, the metric
contract of every workload on a small input, and the refusal to run
without the engine.

    python3 -m pytest perfbench -q

The workload test runs each workload once, traced, on an sf0.001-sized
input (``--scale 0.1``), about a minute per workload on four cores.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(args, cwd=ROOT, timeout=600):
    return subprocess.run([sys.executable, "perfbench/run.py", *args],
                          cwd=cwd, capture_output=True, text=True,
                          timeout=timeout)


def test_generator_is_deterministic_per_seed(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    gen.generate(a, 7)
    gen.generate(b, 7)
    gen.generate(c, 8)
    for t in gen.TABLES:
        name = f"{t}.parquet"
        assert filecmp.cmp(os.path.join(a, name), os.path.join(b, name),
                           shallow=False), t
    derived = ("orders", "lineitem", "documents", "embeddings", "events")
    for t in derived:
        name = f"{t}.parquet"
        assert not filecmp.cmp(os.path.join(a, name), os.path.join(c, name),
                               shallow=False), t


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_reports_every_metric(workload):
    proc = _run(["--workload", workload, "--seed", "1", "--seconds", "0",
                 "--trace", "1", "--scale", "0.1"])
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["failed"] == 0, proc.stdout
    assert result["correct"] is True
    for m in SPEC["per_layer"]:
        assert result["metrics"][m["name"]]["unit"] == m["unit"], m["name"]
    assert len(result["metrics"]) == len(SPEC["per_layer"])
    artifact = os.path.join(HERE, ".work",
                            f"trace-{workload}-seed1.json")
    with open(artifact) as fh:
        e2e = json.load(fh)["end_to_end_traced"]
    for m in SPEC["end_to_end"]:
        assert e2e[m["name"]]["unit"] == m["unit"], m["name"]
        assert e2e[m["name"]]["value"] > 0, m["name"]
    assert e2e["ok_frac"]["value"] == 1.0


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run(["--workload", "mouse_batch", "--seed", "1",
                 "--seconds", "1", "--trace", "0"], cwd=str(tmp_path),
                timeout=180)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
