"""Smoke self-test of the benchmark: every workload at sf0.001 with a few
statements, untraced and traced.

    python3 -m pytest perfbench/tests -q

Takes about three minutes (six fresh Spark processes).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from collections import defaultdict

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import manifests  # noqa: E402
import run as bench_run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = bench_run.WORKLOADS
SEED = 3


def _run(workload: str, trace: int, out_dir: str) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--smoke",
         "--out", out_dir],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["telemetry"], json.loads(lines[-1])


def _ops_per_pass(workload: str) -> int:
    if workload == "query_mix":
        return len(bench_run.SMOKE_QUERY_IDS)
    kind = "validate" if workload == "manifest_validate" else "etl"
    return manifests.build(kind, SEED, "data", bench_run.SMOKE_SCRIPTS).n_ops


@pytest.fixture(scope="module", params=WORKLOADS)
def runs(request, tmp_path_factory):
    out = {}
    for trace in (0, 1):
        d = str(tmp_path_factory.mktemp(f"{request.param}-{trace}"))
        out[trace] = (*_run(request.param, trace, d), d)
    return request.param, out


def test_metrics_named_with_units(runs):
    _, out = runs
    for trace, group in ((0, "end_to_end"), (1, "per_layer")):
        _, result, _ = out[trace]
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] and result["failed"] == 0
        printed = result["metrics"]
        for m in SPEC[group]:
            assert m["name"] in printed, m["name"]
            assert printed[m["name"]]["unit"] == m["unit"], m["name"]
            assert isinstance(printed[m["name"]]["value"], (int, float))
    assert out[0][1]["metrics"]["success_ratio"]["value"] == 1.0


def test_op_counts_match_workload(runs):
    workload, out = runs
    for trace in (0, 1):
        telemetry, result, _ = out[trace]
        assert result["attempted"] == len(telemetry["passes"]) * _ops_per_pass(workload)


def test_span_self_times_sum_to_op_wall(runs):
    _, out = runs
    _, _, d = out[1]
    ops = [json.loads(ln) for ln in open(os.path.join(d, "ops.jsonl"))]
    spans = [json.loads(ln) for ln in open(os.path.join(d, "spans.jsonl"))]
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    self_sum = defaultdict(float)
    for s in spans:
        self_sum[s["op"]] += s["end"] - s["start"] - child[s["id"]]
    traced = [o for o in ops if o["traced"]]
    assert traced
    for o in traced:
        gap = o["wall"] - self_sum[o["op"]]
        assert -0.002 <= gap <= 0.005 + 0.05 * o["wall"], (o["op"], o["wall"], gap)


def test_validated_statements_run_no_spark_jobs(runs):
    workload, out = runs
    if workload != "manifest_validate":
        pytest.skip("dry-run only")
    _, _, d = out[1]
    ops = [json.loads(ln) for ln in open(os.path.join(d, "ops.jsonl"))]
    validated = [o for o in ops if o["traced"] and o["kind"] == "exec"]
    assert validated
    assert all(o["spark"].get("jobs", 0) == 0 for o in validated)
