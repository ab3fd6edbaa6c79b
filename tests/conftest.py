import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


@pytest.fixture(scope="session")
def spark():
    from gis_scripts_spark.session import get_spark

    # no silent Arrow fallback: a frame that cannot convert fails its test
    s = get_spark(
        "tests", cores=8, shuffle_partitions=8,
        extra_conf={"spark.sql.execution.arrow.pyspark.fallback.enabled": "false"},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
