"""Smoke test of the benchmark at tiny scale (sf0.001 geo tables, a few
hundred images): every metric of BENCHMARK.json is emitted with its unit,
the report carries the workload-specific metrics and the load record, a
planted wrong output counts as a failure, and the benchmark refuses to run
without the package.

    python3 -m pytest perfbench/smoke_test.py -q      (from the repo root)

It starts four benchmark runs of about a minute each.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def bench(workload: str, trace: int, *extra: str, cwd: str = ROOT):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "5", "--seconds", "1", "--trace", str(trace),
           "--scale", "tiny", *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=300)


def parse(proc) -> tuple[dict, dict]:
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    report, result = json.loads(lines[-2])["report"], json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    assert isinstance(result["failed"], int)
    return report, result


def assert_metrics(result: dict, spec: list[dict]) -> None:
    want = {m["name"]: m["unit"] for m in spec}
    got = result["metrics"]
    assert set(got) == set(want)
    for name, m in got.items():
        assert m["unit"] == want[name], name
        assert isinstance(m["value"], (int, float)), name
        assert math.isfinite(m["value"]), name


@pytest.fixture(scope="module", params=WORKLOADS)
def planted(request):
    return request.param, parse(bench(request.param, 0, "--plant-wrong"))


@pytest.fixture(scope="module", params=WORKLOADS)
def traced(request):
    return request.param, parse(bench(request.param, 1))


def test_end_to_end_metrics_and_report(planted):
    workload, (report, result) = planted
    assert_metrics(result, SPEC["end_to_end"])
    for key in ("loadavg_start", "loadavg_end", "control_s_start",
                "control_s_end", "spark_conf", "error_rate",
                "cpu_steal_share", "peak_rss_mb"):
        assert key in report, key
    if workload == "image_ingest":
        for key in ("batch_s_p50", "batch_s_tail",
                    "store_bytes_per_input_byte"):
            assert key in report, key


def test_planted_wrong_output_is_a_failure(planted):
    _, (report, result) = planted
    assert result["failed"] >= 1
    assert result["correct"] is False
    assert any(f.startswith("check ") for f in report["failures"])


def test_traced_run_emits_every_layer_metric_and_is_correct(traced):
    workload, (report, result) = traced
    assert_metrics(result, SPEC["per_layer"])
    assert result["failed"] == 0, report["failures"]
    assert result["correct"] is True
    if workload == "geo_vector":
        for p in report["passes"]:
            assert set(p["queries"]) >= {"pip_city", "flagship_lineitem"}


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = bench(WORKLOADS[0], 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
