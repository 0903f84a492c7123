"""Smoke tests of the benchmark itself: tiny inputs, every user path, both
workloads, the traced run, the corruption self-test and the refusal to run
without the engine. Each run starts its own Spark session (~45 s).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(*args: str, cwd: str = ROOT) -> tuple[subprocess.CompletedProcess, dict | None]:
    p = subprocess.run([sys.executable, "perfbench/run.py", "--seed", "3", "--seconds", "30", *args],
                       cwd=cwd, capture_output=True, text=True, timeout=180)
    lines = p.stdout.strip().splitlines()
    try:
        return p, json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return p, None


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_end_to_end(workload):
    p, out = run("--workload", workload, "--trace", "0", "--smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    assert out["correct"] is True and out["failed"] == 0, p.stderr[-3000:]
    assert out["attempted"] == 5  # batch query, backlog, live, 2 CEP operators
    assert set(out["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    for m in SPEC["end_to_end"]:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0, (m["name"], got)


def test_smoke_traced():
    p, out = run("--workload", "skewed", "--trace", "1", "--smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    assert out["correct"] is True, p.stderr[-3000:]
    assert set(out["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    for m in SPEC["per_layer"]:
        assert out["metrics"][m["name"]]["unit"] == m["unit"], m["name"]
    assert out["metrics"]["cep.funnel.rows_dropped_by_watermark"]["value"] == 0
    with open(os.path.join(ROOT, ".perfbench_out", "trace-skewed-3.json")) as f:
        trace = json.load(f)
    ids = {s["id"] for s in trace["spans"]}
    assert all(s["parent"] is None or s["parent"] in ids for s in trace["spans"])
    assert {"setup", "query", "build", "run", "extract_backlog.batch", "extract_live.sink_commit",
            "cep.funnel.batch"} <= {s["name"] for s in trace["spans"]}


def test_corrupt_output_fails_every_op():
    p, out = run("--workload", "uniform", "--trace", "0", "--smoke", "--corrupt")
    assert p.returncode == 0, p.stderr[-3000:]
    assert out["correct"] is False
    assert out["failed"] == out["attempted"] == 5, p.stderr[-3000:]


def test_refuses_without_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p, out = run("--workload", "uniform", "--trace", "0", cwd=str(tmp_path))
    assert p.returncode != 0 and out is None
