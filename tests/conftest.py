import uuid
from contextlib import contextmanager

import pytest

from kgner.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("kgner-tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def fx():
    from kgner.fixtures import build_fixtures

    return build_fixtures(n_entities=40, n_pages=80, giant_pages=1)


@pytest.fixture(scope="session")
def tables(spark, fx):
    from kgner.fixtures import to_spark

    return to_spark(spark, fx)


@pytest.fixture(scope="session")
def job_group(spark):
    """`with job_group() as jobs:` -> `jobs` lists the ids of the Spark jobs
    submitted by this thread inside the block (a job group the test sets;
    kgner sets none). Blocks nest: the enclosing group is restored on exit,
    and a job counts only in the innermost block. The listener bus is
    drained before the ids are read, so a job that ran is never missed."""
    sc = spark.sparkContext

    @contextmanager
    def group():
        gid = f"test-{uuid.uuid4().hex[:12]}"
        outer = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(gid, gid)
        jobs: list[int] = []
        try:
            yield jobs
        finally:
            sc.setLocalProperty("spark.jobGroup.id", outer)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs.extend(sorted(sc.statusTracker().getJobIdsForGroup(gid)))

    return group
