"""Smoke test of the benchmark at tiny size (sf0.001, 2,000 ads).

  python3 -m pytest perfbench/smoke_test.py

Pins the result line's shape and its metric names and units to
BENCHMARK.json, for both workloads, untraced and traced, and checks
that the benchmark refuses to run outside a checkout of the engine.
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

from spans import Tracer  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [*SPEC["command"], "--workload", workload, "--seed", "7", "--seconds", "1",
         "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_result_line(workload, trace):
    p = run(workload, trace)
    assert p.returncode == 0, p.stderr[-2000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, json.loads(lines[-2])["context"]["failures"]
    assert result["failed"] == 0 and result["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec
    }
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    context = json.loads(lines[-2])["context"]
    for key in ("nproc", "loadavg_start", "floor_s", "commit", "pyspark", "duckdb"):
        assert key in context
    if trace:
        trace_dir = os.path.join(ROOT, context["trace_dir"])
        with open(os.path.join(trace_dir, "layers.json")) as f:
            layers = json.load(f)["layers"]
        assert os.path.getsize(os.path.join(trace_dir, "spans.json")) > 0
        if workload == "etl":
            assert layers["pipeline.extract_evals_per_row"] >= 1.0
            assert layers["incremental.batches"] == context["micro_batches"]
        else:
            assert len(context["query_s"]) == context["queries"] == 10
            assert all(f"queries.{q}_s" in layers for q in context["query_s"])
        shutil.rmtree(os.path.dirname(trace_dir), ignore_errors=True)


def test_refuses_outside_checkout():
    bare = os.path.join(ROOT, ".perfbench", "bare-checkout")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(
            HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__")
        )
        p = run(SPEC["workloads"][0]["name"], 0, cwd=bare)
    finally:
        shutil.rmtree(bare)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_self_time_subtracts_children():
    t = Tracer(True)
    with t.span("outer", "op"):
        with t.span("inner"):
            pass
    spans = {s.name: s for s in t.spans}
    assert spans["inner"].parent == spans["outer"].id and spans["inner"].op == "op"
    self_s = t.self_times()
    outer = spans["outer"].end - spans["outer"].start
    inner = spans["inner"].end - spans["inner"].start
    assert self_s["outer"] == pytest.approx(outer - inner)
    assert self_s["inner"] == pytest.approx(inner)
