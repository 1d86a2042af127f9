"""The benchmark's own tests: seeded generators are deterministic, every
workload runs end to end at a tiny size with its output checks passing,
and the benchmark refuses to run without the engine package.

    python3 -m pytest perfbench/tests -q

Run from the root of the repository. The smoke runs start Spark, so the
whole file takes a few minutes.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import gen  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


@pytest.mark.parametrize("kind", ["ksql", "batch"])
def test_generators_are_deterministic_per_seed(tmp_path, kind):
    def build(root, seed):
        os.makedirs(root, exist_ok=True)
        if kind == "ksql":
            gen.ksql_ops(root, seed, ops=3, rows=5)
            return next(os.path.join(root, d) for d in os.listdir(root))
        return gen.batch_tables(root, seed, events=200, lineitem=300, docs=40, vecs=40, files=2)

    a = build(str(tmp_path / "a"), 7)
    b = build(str(tmp_path / "b"), 7)
    c = build(str(tmp_path / "c"), 8)
    assert _same_tree(a, b)
    assert not _same_tree(a, c)  # another seed, other bytes


def _run(cwd, *args, timeout=600):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("workload", ["ksql_pull", "batch"])
def test_tiny_run_passes_its_output_checks(workload):
    p = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1", "--trace", "0", "--small")
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert sorted(out) == ["attempted", "correct", "failed", "metrics"]
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 2, p.stderr[-3000:]
    assert sorted(out["metrics"]) == sorted(m["name"] for m in BENCH["end_to_end"])
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_traced_run_reports_every_per_layer_metric():
    p = _run(ROOT, "--workload", "ksql_pull", "--seed", "3", "--seconds", "1", "--trace", "1", "--small")
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"], p.stderr[-3000:]
    assert sorted(out["metrics"]) == sorted(m["name"] for m in BENCH["per_layer"])
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["frontend.ops"] >= 1 and m["sink.jobs_per_batch"] >= 1
    # insert, refresh and read spans account for the op's wall time
    assert m["trace.span_coverage_pct"] > 95


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run(str(tmp_path), "--workload", "batch", "--seed", "1", "--seconds", "1", "--trace", "0",
             timeout=120)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
