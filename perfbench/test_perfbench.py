"""The benchmark's own tests: smoke-size runs of every workload, untraced
and traced, plus a planted fault the correctness checks must catch.

    python3 -m pytest perfbench/test_perfbench.py -q

Each Spark-backed case starts its own benchmark process (about a minute).
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
sys.path.insert(0, HERE)

from tracing import union_length  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(*args: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return p.returncode, p.stdout.strip().splitlines()


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_with_its_unit(workload, trace):
    rc, out = _run("--workload", workload, "--seed", "7", "--seconds", "1",
                   "--trace", str(trace), "--smoke")
    result = json.loads(out[-1])
    assert rc == 0, out[-2:]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared}
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    detail = json.loads(out[-2])["perfbench_detail"]
    env = detail["environment"]
    for key in ("nproc", "spark", "pyarrow", "java", "git_commit", "fileio"):
        assert env[key] not in (None, "")
    assert detail["calibration"]["cpu_kernel_s"] > 0


def test_planted_dropped_row_fails_the_run():
    rc, out = _run("--workload", "rewrite", "--seed", "7", "--seconds", "1",
                   "--trace", "0", "--smoke", "--plant", "drop-row")
    result = json.loads(out[-1])
    assert rc == 1
    assert result["correct"] is False and result["failed"] >= 1
    failures = json.loads(out[-2])["perfbench_detail"]["failures"]
    assert any("compaction preserves" in f for f in failures)


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, out = _run("--workload", "rewrite", "--seed", "1", "--seconds", "1",
                   "--trace", "0", cwd=str(tmp_path))
    assert rc != 0
    assert not any(line.startswith('{"correct"') for line in out)


def test_union_length_counts_overlaps_once():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(0, 2), (1, 3)], 1.5, 2.5) == 1.0
