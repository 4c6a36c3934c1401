from __future__ import annotations

import os
import uuid

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")  # tests: small local parallelism
os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "4")

from pulsar_ingestion_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pulsar-ingestion-spark-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def jobs_run_by(spark):
    """``jobs_run_by(fn)`` -> (``fn()``, the number of Spark jobs it ran)."""

    def run(fn):
        sc = spark.sparkContext
        group = f"jobs-run-by-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
