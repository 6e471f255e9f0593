"""Smoke test for the benchmark: every workload at tiny size.

    python3 -m pytest perfbench/test_smoke.py -q

Checks that each run prints every metric BENCHMARK.json names, with its
unit, passes its correctness gate, and that count metrics repeat exactly
between two runs with the same seed. Takes several minutes: each run
starts its own Spark session.
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
WORKLOADS = ["query-small", "serve-large"]
SEED = 7

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)

# metrics that count work or bytes: same seed, same value
EXACT_E2E = ["cache_mb", "index_bytes_per_input_byte"]
EXACT_LAYER = ["spark.jobs_per_request", "spark.stages_per_request",
               "spark.tasks_per_request", "udf.bytes_sent", "udf.bytes_received",
               "udf.rows_received", "scan.rows_per_request",
               "wand.blocks_decoded_frac", "build.jobs", "build.stages",
               "build.tasks"]


def run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(SEED), "--seconds", "3",
         "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_metrics_named_and_counts_repeat(workload: str, trace: int) -> None:
    first, second = result(run(workload, trace)), result(run(workload, trace))
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    for res in (first, second):
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
        assert set(res["metrics"]) == {m["name"] for m in wanted}
        for m in wanted:
            got = res["metrics"][m["name"]]
            assert got["unit"] == m["unit"]
            assert isinstance(got["value"], float)
    for name in EXACT_LAYER if trace else EXACT_E2E:
        assert first["metrics"][name] == second["metrics"][name], name


def test_fails_without_the_engine(tmp_path) -> None:
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = run("query-small", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert "metrics" not in proc.stdout
