import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datalake_breweries_two_spark.session import build_session

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = build_session(
        app_name="tests", shuffle_partitions=8, quiet_bounded_window_warn=True
    )
    yield s
    s.stop()
