"""Smoke test of the benchmark at toy sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload untraced and traced, and checks that each metric named
in BENCHMARK.json is emitted with its unit, that all oracles pass, and that
the benchmark refuses to run without the engine next to it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]

# per-layer figures each workload must move (all others may read 0 there)
OWN_LAYER_METRICS = {
    "assign": ["cells.encode_s", "cells.rows", "pip.flagship_s", "pip.candidates", "pip.assignments",
               "cover.cells", "pip.tasks", "lineage.kill_write_s", "lineage.resume_write_s",
               "lineage.partitions", "lineage.files", "lineage.resume_input_ratio", "knn.batch_s",
               "knn.spark_jobs", "lineage.tasks", "knn.tasks"],
    "harvest": ["harvest.pages", "harvest.fetch_items_s", "compat.translate_s", "compat.docs",
                "sinks.write_objects_s", "sinks.objects", "sinks.deleted", "compat.tasks"],
}


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "toy"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_emits_every_metric_and_passes_oracles(workload, trace):
    proc = _run(workload, trace)
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, proc.stderr[-4000:]
    assert result["attempted"] >= 1
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in wanted} == {k: v["unit"] for k, v in result["metrics"].items()}
    printed = {name: (value, unit) for name, value, unit in (ln.split("\t") for ln in lines[:-1])}
    for m in wanted:
        assert printed[m["name"]][1] == m["unit"]
    assert float(printed["failed_op_frac"][0]) == 0.0
    if trace:
        for name in OWN_LAYER_METRICS[workload]:
            assert result["metrics"][name]["value"] > 0, name
        trace_file = os.path.join(ROOT, ".perfbench_work", "traces", f"{workload}-seed7.jsonl")
        spans = [json.loads(line) for line in open(trace_file)]
        assert all({"name", "start_s", "end_s", "parent", "workload", "self_s"} <= set(s) for s in spans)
    else:
        for m in wanted:
            assert result["metrics"][m["name"]]["value"] > 0, m["name"]


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(WORKLOADS[0], 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert "{" not in proc.stdout
