"""Smoke test of the benchmark itself, at sf0.001 (under a minute a run).

    python3 -m pytest perfbench/test_smoke.py -q

Every workload, untraced and traced, must finish with zero failed or
wrong operations and emit exactly the metrics ``BENCHMARK.json`` names,
each with its unit. The private status-store calls the traced run makes
are pinned by signature, so a PySpark upgrade that changes them fails
here with a clear message.
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
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [
        sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
        "--seed", "3", "--seconds", "10", "--trace", str(trace), "--sf", "0.001",
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=170)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_workload_emits_every_metric(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    report = next(json.loads(ln[2:]) for ln in lines if ln.startswith("# {"))
    assert report["error_rate"] == 0
    assert report["cores"] >= 1 and report["seed"] == 3 and report["sf"] == 0.001
    want = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    if not trace:
        assert all(result["metrics"][m["name"]]["value"] > 0 for m in want)
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_run"))


def test_refuses_without_the_library(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), BENCH["workloads"][0]["name"], 0)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_status_store_call_shape():
    """``AppStatusStore.jobsList(java.util.List)`` and the five-argument
    ``stageList(List, boolean, boolean, double[], List)`` are private
    Spark API the traced run depends on."""
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    from pyspark.sql import SparkSession

    import spans

    spark = (
        SparkSession.builder.master("local[1]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    try:
        sc = spark.sparkContext
        methods = {
            m.getName() + str([p.getName() for p in m.getParameterTypes()])
            for m in sc._jsc.sc().statusStore().getClass().getMethods()
        }
        assert "jobsList['java.util.List']" in methods
        assert (
            "stageList['java.util.List', 'boolean', 'boolean', '[D', 'java.util.List']" in methods
        )
        sc.setJobGroup("op-0", "probe")
        spark.range(10).count()
        jobs, stages = spans.read_status_store(sc)
        job = next(j for j in jobs if j["group"] == "op-0")
        assert job["start"] is not None and job["end"] >= job["start"]
        assert any(stages[s]["status"] == "COMPLETE" for s in job["stage_ids"] if s in stages)
    finally:
        spark.stop()
