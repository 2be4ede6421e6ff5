import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from edgesearch_spark.session import get_spark

    # local[SPARK_GRAFT_CPUS], else local[<CPUs this process may use>]
    s = get_spark(app_name="edgesearch-tests")
    yield s
    s.stop()
