import contextlib
import itertools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kats_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("KATS_SPARK_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("kats_spark_tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


_JOB_GROUPS = itertools.count()


@pytest.fixture(scope="session")
def count_jobs(spark):
    """``with count_jobs() as jobs:`` fills ``jobs`` with the ids of the
    Spark jobs the block started, read from the block's own job group."""

    @contextlib.contextmanager
    def jobs():
        sc = spark.sparkContext
        group = f"count-jobs-{next(_JOB_GROUPS)}"
        sc.setJobGroup(group, group)
        ids: list[int] = []
        try:
            yield ids
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            # the status tracker is fed by the listener bus, asynchronously
            sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
            ids.extend(sc.statusTracker().getJobIdsForGroup(group))

    return jobs
