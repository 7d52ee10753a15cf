from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

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
    """Spark jobs submitted by any thread, the stream's included, while
    ``fn`` runs. The DAG scheduler numbers jobs in submission order, so
    this is how far its next job id moves across ``fn``. That counter is
    Spark-internal (package-private in Scala, public on the JVM); marker
    jobs around ``fn`` count the same ids but each costs a scheduler
    round trip and a Python worker task."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    first = dag.nextJobId()
    fn()
    return dag.nextJobId() - first
