"""The benchmark's own tests: every workload at toy size, untraced and
traced, through the same command the benchmark contract names.

    python3 -m pytest perfbench/test_perfbench.py -q

Each case starts its own Spark session, so the module takes a few minutes.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

with open(os.path.join(REPO, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


@functools.cache
def _run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "0", "--trace", str(trace), "--scale", "toy"]
    p = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_reported_and_outputs_correct(workload, trace):
    r = _run(workload, trace)
    assert set(r) == {"correct", "attempted", "failed", "metrics"}
    assert r["correct"] is True
    assert r["attempted"] >= 1
    assert r["failed"] == 0
    want = SPEC["end_to_end"] if trace == 0 else SPEC["per_layer"]
    got = r["metrics"]
    assert sorted(got) == sorted(m["name"] for m in want)
    for m in want:
        assert got[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(got[m["name"]]["value"], (int, float)), m["name"]
    if trace == 0:
        assert all(got[m["name"]]["value"] > 0 for m in want)


def test_checkpoints_and_build_jobs_only_on_pipelines():
    pipelines = _run("pipelines", 1)["metrics"]
    batch = _run("batch", 1)["metrics"]
    assert pipelines["checkpoint.calls"]["value"] > 0
    assert pipelines["build.jobs"]["value"] > 0
    assert batch["checkpoint.calls"]["value"] == 0
    assert batch["build.jobs"]["value"] == 0


def test_layers_seen_where_predicted():
    pipelines = _run("pipelines", 1)["metrics"]
    batch = _run("batch", 1)["metrics"]
    assert pipelines["artifacts.builds"]["value"] > 0
    assert pipelines["artifacts.train_s"]["value"] > 0
    assert batch["artifacts.load_or_build.calls"]["value"] == 0
    assert batch["exec.python_run_s"]["value"] > 0
    assert pipelines["exec.python_run_s"]["value"] == 0
    assert batch["sink.files"]["value"] > 0


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work"))
    cmd = [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0], "--seed", "1",
           "--seconds", "1", "--trace", "0"]
    p = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
