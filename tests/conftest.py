import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from smile_spark import get_spark

SF_DIR = os.environ.get("SMILE_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="smile-spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


BROADCAST_THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


@pytest.fixture
def distributed_cc(spark):
    """Turn off ``graph.cc_labels``' driver-side pass for one test by
    setting the broadcast threshold to -1, so every connected-components
    call runs the distributed min-label loop; the threshold is restored
    afterwards."""
    old = spark.conf.get(BROADCAST_THRESHOLD)
    spark.conf.set(BROADCAST_THRESHOLD, "-1")
    yield
    spark.conf.set(BROADCAST_THRESHOLD, old)


@pytest.fixture
def cc_paths(spark):
    """``for path in cc_paths(): ...`` runs a check once on each
    connected-components path: ``"driver"`` under the session's
    threshold, then ``"distributed"`` under -1.  Every iteration sets
    its threshold itself, and the fixture restores the session's
    value, so a failed check leaves nothing behind."""
    old = spark.conf.get(BROADCAST_THRESHOLD)

    def paths():
        spark.conf.set(BROADCAST_THRESHOLD, old)
        yield "driver"
        spark.conf.set(BROADCAST_THRESHOLD, "-1")
        yield "distributed"
        spark.conf.set(BROADCAST_THRESHOLD, old)

    yield paths
    spark.conf.set(BROADCAST_THRESHOLD, old)
