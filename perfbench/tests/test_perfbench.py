"""Self-test of the benchmark: one pass of each workload on the sf0.001
fixtures, untraced and traced.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

from run import tree_cpu_s  # noqa: E402
from tracing import union_seconds  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _run(workload: str, trace: int, cwd: str = ROOT, seed: int = 7):
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed), "--seconds", "0",
         "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return proc


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-4000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0, proc.stderr[-4000:]
    return res


def test_workloads_match_spec():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_emits_every_end_to_end_metric(workload):
    res = _result(_run(workload, 0))
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_emits_layers_and_attributes_every_job(workload):
    res = _result(_run(workload, 1))
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    got = res["metrics"]
    assert {k: v["unit"] for k, v in got.items()} == want

    with open(os.path.join(ROOT, ".perfbench", "spans",
                           f"{workload}-seed7.json")) as fh:
        spans = json.load(fh)
    children: dict = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def leaf_jobs(span) -> int:
        kids = children.get(span["id"], [])
        return span["jobs"] if not kids else sum(leaf_jobs(k) for k in kids)

    passes = [s for s in spans if s["kind"] == "pass"]
    assert passes
    for p in passes:
        assert p["jobs_launched"] > 0
        assert leaf_jobs(p) == p["jobs_launched"]

    value = lambda k: got[k]["value"]  # noqa: E731
    if workload == "olap_scan_agg":
        assert value("operators.relational.jobs") > 0
        assert value("operators.graph.jobs") == 0
        assert value("operators.dedup.jobs") == 0
        assert value("operators.pipeline.jobs") == 0
        assert value("sources.bucketed.bytes_written") == 0
    if workload == "dedup_nightly_daily":
        assert value("operators.relational.jobs") == 0
        assert value("operators.graph.jobs") > 0
        assert value("sources.bucketed.bytes_written") > 0
        assert value("operators.dedup.probe_bytes_written") == 0
        assert value("step.build_s") > 0 and value("step.probe_s") > 0


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("olap_scan_agg", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_tree_cpu_counts_reaped_children():
    before = tree_cpu_s()
    subprocess.run([sys.executable, "-c", "sum(range(3 * 10**7))"], check=True)
    assert tree_cpu_s() - before >= 0.2


def test_union_seconds_merges_and_clips():
    assert union_seconds([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_seconds([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2
    assert union_seconds([], 0, 1) == 0
