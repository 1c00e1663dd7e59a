"""Tiny-size smoke test of the benchmark: every workload runs end to end
at ``--size tiny`` for one second, passes its correctness oracle and
prints exactly the metrics ``BENCHMARK.json`` declares.

    python3 -m pytest perfbench/tests -q

Each case starts its own Spark session (tens of seconds each).
"""

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(tmp_path, workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert not (tmp_path / ".perfbench_work").exists(), "work directory left behind"
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["cdc_upsert", "stream_cdc", "skipping_read"])
def test_workload_untraced(tmp_path, workload):
    out = _run(tmp_path, workload, 0)
    assert out["correct"] is True
    assert out["failed"] == 0 and out["attempted"] >= 1
    assert set(out["metrics"]) == {m["name"] for m in _spec()["end_to_end"]}
    assert all(m["value"] > 0 for m in out["metrics"].values())


def test_traced_run_reports_every_layer(tmp_path):
    out = _run(tmp_path, "skipping_read", 1)
    assert out["failed"] == 0
    assert set(out["metrics"]) == {m["name"] for m in _spec()["per_layer"]}
    m = out["metrics"]
    # the tiny run still plans, commits and scans through every wrapped
    # entry point the skipping workload touches
    for name in ("log.snapshot_calls", "log.commits", "plan.files_total",
                 "scan.files_planned", "fs.read_calls", "py4j.calls", "spark.jobs"):
        assert m[name]["value"] > 0, name


def test_refuses_without_package(tmp_path):
    """Copied alone (no jodie_spark beside it) the benchmark exits
    non-zero without printing a result."""
    import shutil

    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "stream_cdc", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert "correct" not in proc.stdout
