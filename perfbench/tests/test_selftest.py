"""Self-test of the benchmark: every workload at a tiny input size, in both
modes, from the repository root.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(HERE))

import procs  # noqa: E402
from run import CASCADE_LAYER, END_TO_END, PER_LAYER  # noqa: E402

TINY = "0.05"


def bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=170)


@pytest.fixture(scope="module", autouse=True)
def subreaper():
    # orphans of the benchmark re-parent to this process, so a leak shows
    # up as a descendant here
    procs.become_subreaper()


def test_benchmark_json_matches_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert "setup_s" in END_TO_END


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload",
                         ["fastq_screen", "moi_cascade", "sketch_rollup"])
def test_workload_runs_checks_and_cleans_up(workload, trace):
    res = bench("--workload", workload, "--seed", "3", "--seconds", "1",
                "--trace", trace, "--scale", TINY)
    assert res.returncode == 0, res.stderr[-3000:]
    lines = res.stdout.strip().splitlines()
    out = json.loads(lines[-1])
    info = json.loads(lines[-2])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0, info["failures"]
    assert info["error_rate"] == 0.0
    expected = END_TO_END if trace == "0" else dict(PER_LAYER)
    if trace == "1" and workload == "moi_cascade":
        expected.update(CASCADE_LAYER)
    assert {k: v["unit"] for k, v in out["metrics"].items()} == expected
    assert all(isinstance(v["value"], float) for v in out["metrics"].values())
    if trace == "0":
        assert out["metrics"]["tokens_per_s"]["value"] > 0
        assert out["metrics"]["setup_s"]["value"] > 0
        assert out["metrics"]["peak_rss_mb"]["value"] > 0
    else:
        assert out["metrics"]["session.start_s"]["value"] > 0
        assert out["metrics"]["spark.tasks"]["value"] > 0
    assert procs.wait_for_no_descendants(5.0) == []


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    res = bench("--workload", "fastq_screen", "--seed", "1", "--seconds",
                "1", "--trace", "0", cwd=str(tmp_path))
    assert res.returncode != 0
    assert res.stdout.strip() == ""
