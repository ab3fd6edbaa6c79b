"""The benchmark's own checks. No Spark session is started.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import eventlog, inputs, run  # noqa: E402
from perfbench.worker import Workload  # noqa: E402


@pytest.fixture(scope="module")
def scratch(tmp_path_factory):
    return str(tmp_path_factory.mktemp("perfbench"))


def _workload(name: str, scratch: str) -> Workload:
    in_dir, _, _, _ = inputs.prepare(name, 3, scratch)
    return Workload(None, name, in_dir, scratch)


def _reference_output(wl: Workload):
    """What a correct job returns, rebuilt from the reference."""
    ref = wl.ref
    if wl.name == "pip_tile":
        return {k: list(v) for k, v in ref["rollup"].items()}
    if wl.name == "knn_hotspot":
        return [(q, n, d, r + 1) for q, ns, ds in zip(ref["query_id"], ref["neighbor_id"], ref["dist"])
                for r, (n, d) in enumerate(zip(ns, ds))]
    return {"rows": ref["rows"], "pairs": [list(p) for p in ref["pairs"]]}


@pytest.mark.parametrize("name,fault", [
    ("pip_tile", "dropped row"), ("pip_tile", "other s2 id"), ("pip_tile", "other hex7 id"),
    ("knn_hotspot", "dropped row"), ("image_dedup", "dropped row"),
])
def test_corrupted_result_is_caught(name, fault, scratch):
    wl = _workload(name, scratch)
    good = _reference_output(wl)
    assert wl.check(good) is None
    bad = json.loads(json.dumps(good)) if isinstance(good, dict) else list(good)
    if name == "pip_tile":
        # rollup columns: count, sum x, sum y, XOR of S2 ids, XOR of hex7 ids, ...
        first = sorted(bad)[0]
        if fault == "dropped row":
            bad[first][0] -= 1
        else:
            bad[first][3 if fault == "other s2 id" else 4] ^= 1 << 40
    elif name == "knn_hotspot":
        bad.pop(len(bad) // 2)
    else:
        bad["pairs"].pop()
    assert wl.check(bad) is not None


def test_pip_reference_does_not_call_engine_cell_kernels(tmp_path, monkeypatch):
    """A defect in index.s2 or index.hex7 must not reach the reference."""
    from gis_scripts_spark.index import hex7, s2

    def broken(*a, **k):
        raise AssertionError("the reference called an engine kernel")

    monkeypatch.setattr(s2, "cell_id", broken)
    monkeypatch.setattr(hex7, "encode", broken)
    inputs.prepare("pip_tile", 4, str(tmp_path))


def test_inputs_are_pinned_by_seed(tmp_path):
    d1 = inputs.generate("knn_hotspot", 5, str(tmp_path / "a"))
    d2 = inputs.generate("knn_hotspot", 5, str(tmp_path / "b"))
    d3 = inputs.generate("knn_hotspot", 6, str(tmp_path / "c"))
    assert d1 == d2 != d3


def test_pip_reference_agrees_with_engine_kernels(scratch):
    """The benchmark's own ray casting, tile math and cell ids against
    geom.core and index.{tiles,s2,hex7} on the same inputs (a wrong
    reference would fail every run and hide a real regression)."""
    import pyarrow.parquet as pq

    from gis_scripts_spark.geom import core, wkb
    from gis_scripts_spark.index import hex7, s2, tiles

    from perfbench import cellref

    wl = _workload("pip_tile", scratch)
    pts = pq.read_table(os.path.join(wl.in_dir, "points")).to_pandas()
    polys = pq.read_table(os.path.join(wl.in_dir, "polys.parquet")).to_pandas()
    lon, lat = pts["lon"].to_numpy()[:20000], pts["lat"].to_numpy()[:20000]
    for buf in polys["wkb"][:16]:
        rings = inputs.parse_wkb_polygon(bytes(buf))
        np.testing.assert_array_equal(
            inputs.ray_cast(lon, lat, rings), core.points_in_multipolygon(lon, lat, wkb.from_wkb(bytes(buf))))
    for a, b in zip(inputs.xyz_tile(lon, lat, 12), tiles.tile_xy(lon, lat, 12)):
        np.testing.assert_array_equal(a, b)
    lon, lat = pts["lon"].to_numpy(), pts["lat"].to_numpy()
    np.testing.assert_array_equal(cellref.s2_cell_id(lat, lon, inputs.S2_LEVEL), s2.cell_id(lat, lon, inputs.S2_LEVEL))
    np.testing.assert_array_equal(cellref.hex7_encode(lon, lat, inputs.HEX_RES), hex7.encode(lon, lat, inputs.HEX_RES))


def test_driver_gap_and_attribution():
    spans = [{"id": 0, "name": "w", "parent": None, "start": 0.0, "end": 10.0},
             {"id": 1, "name": "a", "parent": 0, "start": 0.5, "end": 6.0}]
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0],
         "Properties": {"spark.job.description": "perfbench:1:a"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 4000},
        # an unlabelled job falls to the innermost span by time
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 3000, "Stage IDs": [1],
         "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 5000},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 7000, "Stage IDs": [2],
         "Properties": {"spark.job.description": "perfbench:0:w"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 8000},
    ]
    per = eventlog.attribute(events, spans)
    assert [j["id"] for j in per[1]["jobs"]] == [0, 1]
    s = eventlog.summarize(per, [0, 1], (0.0, 10.0))
    assert s["spark.jobs"] == 3
    assert s["spark.driver_gap_s"] == pytest.approx(10.0 - 4.0 - 1.0)


def test_benchmark_json_matches_the_metric_table():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in b["per_layer"]] == list(run.PER_LAYER_METRICS)
    assert {w["name"] for w in b["workloads"]} <= set(inputs.WORKLOADS)


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "pip_tile", "--seed", "1",
                          "--seconds", "1", "--trace", "0"], cwd=tmp_path, capture_output=True,
                         text=True, timeout=60, env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    assert out.returncode != 0
    assert out.stdout == ""


def test_compare_refuses_other_inputs(tmp_path):
    from perfbench import compare

    rec = {"workload": "pip_tile", "seed": 1, "trace": 0, "input_digest": "a",
           "host_before": {"cpu_probe_s": 0.1}, "host_after": {"cpu_probe_s": 0.1},
           "end_to_end": {"rows_per_s": {"value": 1.0, "unit": "1/s"}}}
    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    (tmp_path / "a" / "r.json").write_text(json.dumps(rec))
    (tmp_path / "b" / "r.json").write_text(json.dumps({**rec, "input_digest": "b"}))
    assert compare.main(["diff", str(tmp_path / "a"), str(tmp_path / "a")]) == 0
    assert compare.main(["diff", str(tmp_path / "a"), str(tmp_path / "b")]) == 1
