import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="session")
def spark():
    from cdap_geo_spark.session import get_spark
    s = get_spark(app="cdap_geo_spark-tests", cores=8, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture
def no_broadcast(spark):
    """Broadcast joins off (both thresholds -1) for one test, the
    session's values restored after it."""
    keys = ("spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold")
    saved = [spark.conf.get(k) for k in keys]
    for k in keys:
        spark.conf.set(k, "-1")
    yield
    for k, v in zip(keys, saved):
        spark.conf.set(k, v)
