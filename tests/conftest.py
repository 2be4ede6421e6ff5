import os
import sys
import uuid

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


def jobs_run(spark, action):
    """(action's result, Spark jobs it ran), counted in a fresh job group.

    Counting by group, not by the size of the status store's job list,
    stays exact in a long session: the list stops growing once it holds
    ``spark.ui.retainedJobs`` jobs, while the group's own recent jobs stay
    in it."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
