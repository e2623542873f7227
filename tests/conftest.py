import contextlib
import os
import sys
import types
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from v3_polars_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
REF_EXAMPLES = "/root/reference/v3/data/examples"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="v3-polars-spark-tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def ref_examples():
    return REF_EXAMPLES


@pytest.fixture(scope="session")
def count_jobs(spark):
    """A context manager that counts the Spark jobs started inside it:
    ``with count_jobs() as jobs: df.collect()`` leaves the count in
    ``jobs.n``. The block runs under a fresh job group, read back from the
    status tracker once the listener bus has delivered every job event."""

    @contextlib.contextmanager
    def count():
        sc = spark.sparkContext
        group = f"count-jobs-{uuid.uuid4().hex}"
        jobs = types.SimpleNamespace(n=0)
        sc.setJobGroup(group, "count_jobs")
        try:
            yield jobs
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs.n = len(sc.statusTracker().getJobIdsForGroup(group))

    return count
