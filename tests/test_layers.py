"""Smoke test of tools/layers.py: two bench leaves at sf0.001 in a session
of its own, every record field present, and a record diffed against
itself reads zero."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOL = os.path.join(REPO, "tools", "layers.py")
SF = "/root/testdata/sf0.001"
LEAVES = ["flagship_pip_tile", "pricing_summary"]
FIELDS = {
    "wall_s", "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "python_worker_s", "jvm_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
    "job_s", "stage_s", "driver_gap_s",
}


def test_layers_tool_records_two_leaves(tmp_path):
    out = str(tmp_path / "layers.json")
    plans = str(tmp_path / "plans")
    env = dict(os.environ, SPARK_GRAFT_CPUS="2")
    subprocess.run(
        [sys.executable, TOOL, *LEAVES, "--sf", SF, "--out", out, "--plans", plans],
        check=True, env=env, cwd=str(tmp_path), stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    with open(out) as f:
        record = json.load(f)
    assert record["cores"] == "2"
    assert list(record["leaves"]) == LEAVES
    for leaf, rec in record["leaves"].items():
        assert set(rec) == FIELDS, leaf
        assert rec["jobs"] >= 1 and rec["tasks"] >= rec["stages"] >= 1
        assert rec["wall_s"] >= rec["job_s"] > 0
        assert abs(rec["wall_s"] - rec["job_s"] - rec["driver_gap_s"]) < 1e-6
    assert record["leaves"]["flagship_pip_tile"]["python_worker_s"] > 0
    assert sorted(os.listdir(plans)) == [f"{leaf}.txt" for leaf in sorted(LEAVES)]

    diff = subprocess.run(
        [sys.executable, TOOL, "--diff", out, out], check=True, capture_output=True, text=True
    )
    deltas = json.loads(diff.stdout)
    assert set(deltas) == set(LEAVES)
    assert all(set(d) == FIELDS and not any(d.values()) for d in deltas.values())
