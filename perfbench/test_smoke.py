"""Smoke test: every workload, untraced and traced, end to end at small
size.  Run from the repository root:

    python3 -m pytest perfbench/test_smoke.py -q

It starts a Spark JVM per run (about half a minute each).
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

import run  # noqa: E402

WORKLOADS = ("crawl_pipeline", "nearmiss_sinks", "corpus_curation")


def _bench(cwd: str, workload: str, trace: int, seconds: str = "2", size: str = "smoke"):
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", seconds, "--trace", str(trace), "--size", size],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def test_benchmark_json_matches_the_metrics_run_py_reports():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(run.PER_LAYER)
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("trace", (0, 1))
@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_runs_and_checks_its_output(workload, trace):
    proc = _bench(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == dict(want)
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_failed_check_still_prints_the_result_line(capsys):
    record = {"correct": False, "attempted": 7, "failed": 1, "failures": ["timed#2: x"],
              "metrics": {"job_s": {"value": 1.5, "unit": "s"}}}
    assert run.emit(record) == 1
    out, err = capsys.readouterr()
    assert json.loads(out.strip().splitlines()[-1]) == {
        "correct": False, "attempted": 7, "failed": 1, "metrics": record["metrics"]}
    assert "FAILED: timed#2: x" in err


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    proc = _bench(str(tmp_path), "crawl_pipeline", 0, size="full")
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_compare_refuses_records_from_another_host(tmp_path):
    rec = {"workload": "crawl_pipeline", "trace": 0, "host": {
        "cores": 4, "mem_total_mb": 16000, "java": "17", "pyspark": "4", "python": "3"},
        "metrics": {"job_s": {"value": 1.0, "unit": "s"}}}
    other = dict(rec, host=dict(rec["host"], cores=32))
    a, b = tmp_path / "a.json", tmp_path / "b.json"
    a.write_text(json.dumps(rec))
    b.write_text(json.dumps(other))
    cmp = os.path.join(HERE, "compare.py")
    same = subprocess.run([sys.executable, cmp, "--base", str(a), "--new", str(a)],
                          capture_output=True, text=True)
    assert same.returncode == 0, same.stderr
    differ = subprocess.run([sys.executable, cmp, "--base", str(a), "--new", str(b)],
                            capture_output=True, text=True)
    assert differ.returncode == 2
    # the old bench.py records carry no host stamp, so they are never a baseline
    old = tmp_path / "old.json"
    old.write_text(json.dumps({"metric": "docs/sec", "value": 1.0}))
    legacy = subprocess.run([sys.executable, cmp, "--base", str(old), "--new", str(a)],
                            capture_output=True, text=True)
    assert legacy.returncode == 2
