"""Self-test of the benchmark: every workload at a tiny scale.

    python3 -m pytest perfbench/test_perfbench.py -q

Each run starts its own JVM, so the whole file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
SCALE = {"batch_mix": "0.1", "ingest_stream": "0.2"}


def _run(workload: str, *extra: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--scale", SCALE[workload], *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _result(proc: subprocess.CompletedProcess) -> tuple[dict, list[str]]:
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines[:-1]


def _report_value(lines: list[str], name: str) -> float:
    row = next(line.split() for line in lines if line.split()[:1] == [name])
    return float(row[1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_prints_with_its_unit(workload):
    res, lines = _result(_run(workload, "--trace", "0"))
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())
    prefix = "freshness_s" if workload == "ingest_stream" else "job_s"
    for name in ("setup_s", "rows_per_s", f"{prefix}_p50", f"{prefix}_tail",
                 "peak_rss_mb", "fail_frac", "wrong_frac"):
        assert any(line.split()[:1] == [name] for line in lines), name
    assert _report_value(lines, "wrong_frac") == 0.0


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_corrupted_output_raises_wrong_frac(workload):
    res, lines = _result(_run(workload, "--trace", "0", "--corrupt"))
    assert res["correct"] is False
    assert _report_value(lines, "wrong_frac") > 0


def test_traced_run_reports_every_layer_metric():
    res, lines = _result(_run("batch_mix", "--trace", "1"))
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["operators.mapreduce_core.exchanges"] > 0
    assert m["mr.run_s"] > 0 and m["catalog.table_s"] > 0
    assert 0 < m["dedup.recall"] <= 1 and 0 < m["llm.ann_recall_at_k"] <= 1


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("batch_mix", "--trace", "0", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
