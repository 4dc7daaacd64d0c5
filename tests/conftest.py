from __future__ import annotations

import contextlib
import os
import uuid

import pytest

from kettle_jena_plugins_spark.session import get_spark, iceberg_confs


@pytest.fixture(scope="session")
def spark():
    # KJP_ICEBERG_WAREHOUSE=<dir> + an iceberg-spark-runtime jar on the
    # classpath turn the skip-guarded Iceberg integration test live
    # (README "Running the live Iceberg sink"); without the jar the confs
    # are inert and the test keeps skipping.
    extra = None
    wh = os.environ.get("KJP_ICEBERG_WAREHOUSE")
    if wh:
        extra = iceberg_confs(wh)
    s = get_spark(
        app_name="kjp-spark-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf=extra,
    )
    yield s
    s.stop()


@pytest.fixture
def spark_jobs(spark):
    """``with spark_jobs() as jobs: ...`` counts the Spark jobs the block
    runs: they are tagged with a fresh job group, and on exit
    ``jobs["n"]`` holds the group's job count from the status tracker."""
    sc = spark.sparkContext

    @contextlib.contextmanager
    def count():
        group = f"spark-jobs-{uuid.uuid4().hex}"
        jobs: dict = {}
        sc.setJobGroup(group, "counted by the spark_jobs fixture")
        try:
            yield jobs
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            # job-start events reach the status store via the listener bus
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs["n"] = len(sc.statusTracker().getJobIdsForGroup(group))

    return count
