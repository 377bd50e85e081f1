"""The benchmark's own tests: generator determinism, span self-time
arithmetic, metric declarations, and a tiny-size smoke run of every
workload that must pass its output checks.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``
(the smoke runs start a Spark session each and take a few minutes).
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

import pytest

from perfbench import gen, spec
from perfbench.spans import self_times

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs
    )


@pytest.mark.parametrize("kind", ["fec", "versioned"])
def test_generators_are_deterministic_per_seed(tmp_path, kind):
    a, _ = gen.ensure(str(tmp_path / "a"), kind, 7, "tiny")
    b, _ = gen.ensure(str(tmp_path / "b"), kind, 7, "tiny")
    c, _ = gen.ensure(str(tmp_path / "c"), kind, 8, "tiny")
    assert _same_tree(a, b)
    assert not _same_tree(a, c)
    # a cache hit regenerates nothing
    assert gen.ensure(str(tmp_path / "a"), kind, 7, "tiny") == (a, 0.0)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        # overlapping children cover [1, 5]; a child overrunning its
        # parent is clipped to it
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 5.0},
        {"id": 3, "parent": 0, "start": 9.0, "end": 12.0},
        {"id": 4, "parent": 2, "start": 3.5, "end": 4.5, "probe_s": 0.25},
        {"id": 5, "parent": None, "start": 20.0, "end": 21.0, "probe_s": 0.5},
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[1] == pytest.approx(3.0)
    assert st[2] == pytest.approx(2.0 - 1.0)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(0.75)
    assert st[5] == pytest.approx(0.5)


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_declares_exactly_the_spec():
    bj = _benchmark_json()
    assert {m["name"]: m["unit"] for m in bj["end_to_end"]} == spec.END_TO_END
    assert {m["name"]: m["unit"] for m in bj["per_layer"]} == spec.PER_LAYER
    assert {w["name"] for w in bj["workloads"]} <= set(spec.WORKLOADS)
    assert all(spec.layer_metrics(w["name"]) == spec.PER_LAYER for w in bj["workloads"])
    assert len(spec.PER_LAYER) <= 128


@pytest.mark.parametrize("workload,trace", [
    ("elt_batch", 0), ("incremental_load", 1), ("query_mix", 0), ("query_mix", 1),
])
def test_tiny_smoke_run_passes_checks_and_prints_declared_metrics(workload, trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=900, check=False,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    bj = _benchmark_json()
    if workload in {w["name"] for w in bj["workloads"]}:
        want = {m["name"]: m["unit"] for m in bj["per_layer" if trace else "end_to_end"]}
    else:
        want = spec.layer_metrics(workload) if trace else spec.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    report = json.loads(next(ln for ln in lines if ln.startswith("report "))[len("report "):])
    assert {k: v["unit"] for k, v in report.items()} == spec.REPORT[workload]
    if trace:
        assert result["metrics"]["trace.coverage"]["value"] >= 0.9
