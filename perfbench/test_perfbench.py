"""The benchmark's own checks. Each Spark run takes about a minute:

    python3 -m pytest perfbench -q
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
sys.path.insert(0, ROOT)

from perfbench.run import tail  # noqa: E402
from perfbench.workloads import LAYER_UNITS  # noqa: E402


def run(workload: str, seed: int, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def result(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["window_loop", "query_mix"])
def test_spark_counts_repeat_exactly(workload):
    a, b = (result(run(workload, 3, trace=1)) for _ in range(2))
    assert a["correct"] and b["correct"]
    assert set(a["metrics"]) == set(LAYER_UNITS)
    for k in ("spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op"):
        assert a["metrics"][k]["value"] == b["metrics"][k]["value"] > 0, k


def test_benchmark_json_lists_every_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == LAYER_UNITS
    names = {m["name"] for m in spec["end_to_end"]}
    assert names == {"setup_s", "throughput_per_s", "latency_p50_s"}


def test_tail_needs_ten_samples_beyond_it():
    assert tail([1.0] * 39) is None  # p74: not a tail
    value, pct, n = tail([float(i) for i in range(100)])
    assert (value, pct, n) == (89.0, 90.0, 100)


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".data", ".work", "__pycache__"))
    p = run("window_loop", 1, trace=0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout == ""
