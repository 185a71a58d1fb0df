"""Tiny-size smoke test of the benchmark command.

    python3 -m pytest perfbench/test_smoke.py -q

Runs each workload, traced and untraced, for a few seconds from the
repository root and checks the result line: its shape, the metric
names and units of BENCHMARK.json, and that every metric the workload
measures is positive.  Also checks that the command refuses to run
where the engine package is absent.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = os.path.join("perfbench", "run.py")


def _bench(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, RUN, *args], cwd=cwd, capture_output=True, text=True, timeout=600
    )


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", ["stream_jobs", "batch_query_mix"])
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run_reports_every_metric(workload, trace):
    # long enough for several micro-batches of about a second in each phase
    p = _bench(ROOT, "--workload", workload, "--seed", "7", "--seconds", "8",
               "--trace", str(trace))
    assert p.returncode == 0, p.stderr[-4000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, p.stdout
    assert result["attempted"] >= 1
    wanted = _spec()["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    # every metric the workload measures is positive; only the layers it
    # never calls read 0
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    from run import runs_layer

    for name, v in result["metrics"].items():
        measured = not trace or runs_layer(workload, name)
        assert (v["value"] > 0) == measured, (name, v)


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    p = _bench(str(tmp_path), "--workload", "batch_query_mix", "--seed", "1",
               "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert p.stdout.strip() == ""
