"""Session defaults come from the host, not from a fixed sandbox shape,
and the engine's Python processes invalidate zip-import caches lazily."""

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.skipif(not os.path.exists("/proc/meminfo"), reason="needs /proc/meminfo")
def test_driver_heap_is_half_of_host_ram(spark):
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    assert spark.sparkContext.getConf().get("spark.driver.memory") == f"{total_kb // 2048}m"


@pytest.mark.parametrize(
    "bound, nbytes, fits",
    [
        ("64m", 64 << 20, True),
        ("64m", (64 << 20) + 1, False),
        ("1048576", 1048576, True),
        ("1048576", 1048577, False),
        ("-1", 0, False),
    ],
)
def test_fits_broadcast_reads_the_session_bound(spark, caplog, bound, nbytes, fits):
    import logging

    from gis_scripts_spark.operators.repart import fits_broadcast

    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, bound)
    try:
        with caplog.at_level(logging.INFO, logger="gis_scripts_spark.operators.repart"):
            assert fits_broadcast(spark, "side", nbytes) is fits
    finally:
        spark.conf.set(key, old)
    bound_bytes = {"64m": 64 << 20, "1048576": 1048576, "-1": -1}[bound]
    choice = "broadcast" if fits else "shuffle"
    assert caplog.messages == [f"regime side: {nbytes} bytes, bound {bound_bytes} -> {choice}"]


# Run in a fresh interpreter: an importable zip holding zpkg.a and zpkg.b,
# two imports from it, then an invalidate with zipimport._read_directory
# counted. Mode "3.13" poses as Python 3.13 before the engine is imported
# and reports whether the import changed zipimport or pkgutil.
_ZIP_PROBE = r"""
import importlib, json, pkgutil, sys, zipfile, zipimport

repo, archive, mode = sys.argv[1:]
if mode == "3.13":
    before = (dict(vars(zipimport.zipimporter)), dict(pkgutil.iter_importer_modules.registry))
    real, sys.version_info = sys.version_info, (3, 13, 0, "final", 0)
sys.path.insert(0, repo)
import gis_scripts_spark
if mode == "3.13":
    sys.version_info = real
    after = (dict(vars(zipimport.zipimporter)), dict(pkgutil.iter_importer_modules.registry))
    print(json.dumps({"unchanged": before == after}))
    sys.exit()
with zipfile.ZipFile(archive, "w") as z:
    z.writestr("zpkg/__init__.py", "")
    z.writestr("zpkg/a.py", "X = 1")
    z.writestr("zpkg/b.py", "X = 2")
sys.path.insert(0, archive)
import zpkg.a, zpkg.b
reads = []
read_directory = zipimport._read_directory
zipimport._read_directory = lambda path: reads.append(path) or read_directory(path)
importlib.invalidate_caches()
on_invalidate = reads.count(archive)
with zipfile.ZipFile(archive, "a") as z:
    z.writestr("zpkg/c.py", "X = 3")
try:
    from zpkg.c import X as added
except ImportError:
    added = None
on_next_import = reads.count(archive) - on_invalidate
importlib.invalidate_caches()
print(json.dumps({
    "on_invalidate": on_invalidate,
    "on_next_import": on_next_import,
    "added_module": added,
    "listed": sorted(m.name for m in pkgutil.iter_modules(zpkg.__path__)),
}))
"""


def _zip_probe(tmp_path, mode):
    proc = subprocess.run(
        [sys.executable, "-c", _ZIP_PROBE, REPO, str(tmp_path / "z.zip"), mode],
        capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    return json.loads(proc.stdout)


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="3.13 invalidates zip caches lazily itself")
def test_zip_invalidate_reads_the_archive_once_on_the_next_import(tmp_path):
    got = _zip_probe(tmp_path, "lazy")
    assert got["on_invalidate"] == 0
    assert got["on_next_import"] == 1
    assert got["added_module"] == 3
    assert got["listed"] == ["a", "b", "c"]


def test_lazy_zip_invalidation_changes_nothing_on_python_3_13(tmp_path):
    assert _zip_probe(tmp_path, "3.13") == {"unchanged": True}


def test_engine_workers_invalidate_zip_caches_lazily(spark):
    import pyarrow as pa
    from pyspark.sql import functions as F

    from gis_scripts_spark.operators import tile_assign

    # defined here, so it is pickled by value and does not import the engine
    @F.arrow_udf("boolean")
    def lazy(lat: pa.Array) -> pa.Array:
        import zipimport

        return pa.array([zipimport.zipimporter.invalidate_caches.__module__ == "gis_scripts_spark"] * len(lat))

    pts = spark.createDataFrame([(float(i), float(i)) for i in range(4)], "lon double, lat double")
    # one ArrowEvalPython node runs all three UDFs in one worker per task;
    # unpickling assign_tiles' S2 and hex7 UDFs imports the engine there
    rows = tile_assign.assign_tiles(pts, s2_level=12, hex_res=7).withColumn("lazy", lazy("lat")).collect()
    assert all(r.s2_cell is not None and r.hex_cell is not None for r in rows)
    assert [r.lazy for r in rows] == [True] * 4
