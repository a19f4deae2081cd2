"""Benchmark self-tests.  Each smoke run boots Spark on the sf0.001 tables,
so the module takes a few minutes; run it on its own:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import harness  # noqa: E402

WORKLOADS = ("query_mix", "lake_dml")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    """(detail line, result line) of one smoke run."""
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.fixture(scope="module")
def smoke() -> dict:
    runs = {}
    for w in WORKLOADS:
        runs[(w, 1, 0)] = _run(w, 1, 0)
        runs[(w, 2, 0)] = _run(w, 2, 0)
        runs[(w, 1, 1)] = _run(w, 1, 1)
    return runs


def test_spec_names_the_workloads():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert "setup_s" in {m["name"] for m in spec["end_to_end"]}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_emits_every_metric(smoke, workload):
    spec = _spec()
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        _, result = smoke[(workload, 1, trace)]
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] and result["failed"] == 0
        assert result["attempted"] >= 1
        want = {m["name"]: m["unit"] for m in spec[key]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        assert got == want
        if trace == 0:
            assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_seeds_change_inputs_and_both_pass(smoke, workload):
    a, ra = smoke[(workload, 1, 0)]
    b, rb = smoke[(workload, 2, 0)]
    assert ra["correct"] and rb["correct"]
    assert a["inputs"] != b["inputs"]
    assert a["env"]["seed"] == 1 and b["env"]["seed"] == 2


def test_traced_run_reports_layers_it_exercises(smoke):
    from workloads import QUERY_LAYERS

    metrics = smoke[("query_mix", 1, 1)][1]["metrics"]
    for key in [f"{layer}.calls" for layer in QUERY_LAYERS] + ["readers.input_mb"]:
        assert metrics[key]["value"] > 0, key
    lake = smoke[("lake_dml", 1, 1)][1]["metrics"]
    for key in ("deltalite.snapshot_s", "deltalite.merge_s", "deltalite.active_files",
                "deltalite.write_amp", "deltalite.jobs_per_commit"):
        assert lake[key]["value"] > 0, key


def test_run_leaves_only_ignored_files():
    """A run writes under .perfbench/ only (ignored), so git sees no change."""
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        pytest.skip("not a git checkout")
    before = subprocess.run(["git", "status", "--porcelain"], cwd=ROOT,
                            capture_output=True, text=True).stdout
    _run("query_mix", 3, 0)
    after = subprocess.run(["git", "status", "--porcelain"], cwd=ROOT,
                           capture_output=True, text=True).stdout
    assert after == before
    leftovers = [d for d in os.listdir(os.path.join(ROOT, ".perfbench"))
                 if d.startswith("run-")]
    assert leftovers == []


def test_input_tables_are_present():
    """Both scales the benchmark reads ship under perfbench/data."""
    from workloads import TABLES

    for sf in ("sf0.001", "sf0.01"):
        for table in TABLES:
            assert os.path.isfile(os.path.join(BENCH, "data", sf, f"{table}.parquet"))


def test_ops_repeat_under_steal(monkeypatch):
    import numpy as np

    import workloads
    from harness import Op

    monkeypatch.setattr(workloads, "RETRY_BUDGET_S", 100.0)

    def context(trace=False):
        return workloads.Context(spark=None, tracer=None, sf_dir="", run_dir="",
                                 rng=np.random.default_rng(0), trace=trace)

    def attempts(*steal):
        left = iter(steal)

        def attempt():
            return Op(0, "q", "read", "x", total_s=1.0, steal_pct=next(left))

        return attempt

    ctx = context()
    assert ctx.measured(attempts(5.0, 1.0)).steal_pct == 1.0
    assert ctx.measured(attempts(9.0, 4.0, 6.0)).steal_pct == 4.0
    undone = []
    assert ctx.measured(attempts(9.0, 4.0, 6.0), lambda: undone.append(1)).steal_pct == 6.0
    assert undone == [1, 1]
    assert ctx.measured(attempts(9.0), retry=False).extra["attempts"] == 1
    assert context(trace=True).measured(attempts(9.0)).extra["attempts"] == 1
    assert len(ctx.ops) == 4 and ctx.retries == 5 and ctx.retry_s == 5.0
    ctx.retry_s = workloads.RETRY_BUDGET_S
    assert ctx.measured(attempts(9.0)).extra["attempts"] == 1


def test_percentiles():
    xs = [float(i) for i in range(1, 101)]
    assert harness.percentile(xs, 50) == pytest.approx(50.5)
    assert harness.percentile(xs, 90) == pytest.approx(90.1)
    assert harness.supported_tail(19) is None
    assert harness.supported_tail(100) == 90
