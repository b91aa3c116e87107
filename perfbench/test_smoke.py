"""Smoke test of the benchmark at its smoke size: every named metric is
emitted with its unit, and the answer checks ran and passed.

    python -m pytest perfbench/test_smoke.py -q

Two runs cover both workloads and both modes between them.
"""

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)

ALWAYS = {"build.n_docs", "build.global_stats", "docmap.complete", "oracle.top_k",
          "search_eq_search_many", "calls.all_answered", "check_index.built",
          "check_index.merged"}
TRACED = {"trace.same_spark_work", "trace.spans_cover_calls", "merge.n_docs",
          "merge.global_stats"}


@pytest.mark.parametrize("workload,trace", [("query_single", 1), ("query_batch", 0)])
def test_smoke(workload, trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "2", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["attempted"] >= 1 and result["failed"] == 0

    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())

    assert lines[-2].startswith("checks: ")
    checks = json.loads(lines[-2][len("checks: "):])
    assert ALWAYS | (TRACED if trace else set()) <= set(checks)
    assert all(checks.values())
