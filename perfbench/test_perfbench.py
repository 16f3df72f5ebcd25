"""The benchmark's own tests: a small run of every workload, and a positive
control per workload showing that a wrong expected output is counted.

    python -m pytest perfbench/test_perfbench.py -q

Each case starts its own Spark JVM (about 30 s).
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

RUN = Path(__file__).resolve().parent / "run.py"
WORKLOADS = ("archive_raw", "archive_mjpeg", "live_stream")


def _run(workload: str, *extra: str, trace: int = 0) -> dict:
    proc = subprocess.run(
        [sys.executable, str(RUN), "--workload", workload, "--seed", "7", "--seconds", "1",
         "--trace", str(trace), "--smoke", *extra],
        capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _declared(section: str) -> set[str]:
    spec = json.loads((RUN.parent.parent / "BENCHMARK.json").read_text())
    return {m["name"] for m in spec[section]}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_run_is_correct_and_reports_every_metric(workload):
    r = _run(workload)
    assert set(r) == {"correct", "attempted", "failed", "metrics"}
    assert r["correct"] is True and r["failed"] == 0 and r["attempted"] >= 1
    assert set(r["metrics"]) == _declared("end_to_end")
    assert all(m["value"] > 0 for m in r["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_wrong_expected_output_raises_error_rate(workload):
    r = _run(workload, "--expect-wrong")
    assert r["correct"] is False
    assert r["failed"] / r["attempted"] > 0


def test_traced_run_reports_every_per_layer_metric():
    r = _run("archive_raw", trace=1)
    assert set(r["metrics"]) == _declared("per_layer")
    assert r["metrics"]["pipeline.frames_decoded_per_keyframe"]["value"] == 30


def test_refuses_to_run_without_the_package(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in RUN.parent.glob("*.py"):
        (bench / f.name).write_text(f.read_text())
    (tmp_path / "BENCHMARK.json").write_text((RUN.parent.parent / "BENCHMARK.json").read_text())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "archive_raw", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
