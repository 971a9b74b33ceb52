import os
import uuid

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from knime_core_columnar_spark.session import get_spark

    s = get_spark(app_name="tests", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def jobs_fired(spark):
    """``jobs_fired(fn)`` -> (fn(), number of Spark jobs it fired),
    counted through a job group."""
    sc = spark.sparkContext

    def count(fn):
        group = f"jobs-fired-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, "jobs fired")
        try:
            result = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return result, len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def lineitem(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


@pytest.fixture(scope="session")
def orders(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/orders.parquet")


@pytest.fixture(scope="session")
def spark_session(spark):
    """Alias used by hypothesis-driven tests (session-scoped reuse)."""
    return spark
