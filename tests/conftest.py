from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo")

from trialstreamer_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("trialstreamer-spark-tests")
    yield spark


SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def jobs_during(spark, fn) -> int:
    """Spark jobs started by any thread, the stream's included, while
    ``fn`` runs: job ids are global and increasing, so these are the
    ids between two marker jobs of one job group."""
    import uuid

    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex}"

    def marker():
        sc.setJobGroup(group, "job budget marker")
        try:
            sc.parallelize([0], 1).count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    marker()
    fn()
    marker()
    first, last = sorted(sc.statusTracker().getJobIdsForGroup(group))
    return last - first - 1
