"""Session defaults come from the host, not from a fixed sandbox shape."""

import os

import pytest


@pytest.mark.skipif(not os.path.exists("/proc/meminfo"), reason="needs /proc/meminfo")
def test_driver_heap_is_half_of_host_ram(spark):
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    assert spark.sparkContext.getConf().get("spark.driver.memory") == f"{total_kb // 2048}m"
