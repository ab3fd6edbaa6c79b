"""Session defaults come from the host, not from a fixed sandbox shape."""

import os

import pytest


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
