"""Smoke test of the benchmark at a tiny size (2k files, 500 documents): each
workload, untraced and traced, exits 0, passes its output checks and prints
every metric BENCHMARK.json names. Run from the checkout root:

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_prints_every_metric_and_checks_pass(workload: str, trace: int) -> None:
    out = _run(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    must_measure = {m["name"] for m in spec} if not trace else _measured_layers(workload)
    zero = sorted(n for n in must_measure if not out["metrics"][n]["value"] > 0)
    assert not zero, f"read 0: {zero}"


def _measured_layers(workload: str) -> set[str]:
    """Per-layer metrics that a working trace of ``workload`` measures above
    zero: a layer never entered, or jobs the event log did not attribute,
    read 0."""
    names = {m["name"] for m in SPEC["per_layer"]}
    if workload == "pipeline_full":
        return {n for n in names
                if (n.startswith("pipeline.") and n.endswith((".wall_s", ".task_s", ".rows")))
                or (n.startswith("incremental.") and n.endswith("_delta.rows"))} | {
            "cluster.cc.jobs", "cluster.cc.edges_in", "incremental.merge.jobs",
            "incremental.corpus_read_mb"}
    return {n for n in names
            if (n.startswith("query.") and n.endswith((".wall_s", ".task_s")))
            or (n.startswith("er.") and n.endswith("_s"))} | {
        "er.cc_jobs", "cluster.cc.jobs", "incremental.merge.jobs"}


def test_refuses_to_run_outside_a_checkout(tmp_path) -> None:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "pipeline_full",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0 and proc.stdout == ""
