import contextlib
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


@pytest.fixture
def no_broadcast(spark):
    """Context-manager factory: inside ``with no_broadcast():`` the
    session's spark.sql.autoBroadcastJoinThreshold is -1, so every
    operator takes its shuffle path; the old value is restored on exit.
    Run the action inside the block: the threshold is read again when
    the plan is made."""
    key = "spark.sql.autoBroadcastJoinThreshold"

    @contextlib.contextmanager
    def scope():
        old = spark.conf.get(key)
        spark.conf.set(key, "-1")
        try:
            yield
        finally:
            spark.conf.set(key, old)

    return scope
