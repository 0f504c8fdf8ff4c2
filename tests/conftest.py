import os
import sys
import uuid
from contextlib import contextmanager
from types import SimpleNamespace

import pytest

# the tree THIS conftest sits in — a hardcoded /root/repo here makes a
# worktree's test run silently import the main tree's package instead
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from iceberg_hybrid_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", shuffle_partitions=4, extra_conf={
        "spark.ui.enabled": "false",
        "spark.sql.warehouse.dir": "/tmp/spark-warehouse-tests",
    })
    yield spark


@pytest.fixture()
def tmp_table_root(tmp_path):
    return str(tmp_path / "tbl")


@pytest.fixture()
def count_jobs(spark):
    """``with count_jobs() as jobs: ...`` runs the body under a fresh
    Spark job group; ``jobs.n`` is the number of jobs it launched and
    ``jobs.tasks`` the number of tasks they completed."""
    sc = spark.sparkContext

    @contextmanager
    def counting():
        group = f"counted-{uuid.uuid4().hex}"
        jobs = SimpleNamespace(n=None, tasks=None)
        sc.setJobGroup(group, "counted")
        try:
            yield jobs
        finally:
            sc._jsc.clearJobGroup()
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            st = sc.statusTracker()
            ids = st.getJobIdsForGroup(group)
            infos = [st.getJobInfo(j) for j in ids]
            stages = [st.getStageInfo(s) for i in infos if i is not None for s in i.stageIds]
            jobs.n = len(ids)
            jobs.tasks = sum(s.numCompletedTasks for s in stages if s is not None)

    return counting
