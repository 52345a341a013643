import os
import sys

import pytest

# make the repo importable when pytest is run from anywhere
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from opensearch_spark.session import get_spark

    # small local session for tests: fewer cores/partitions = faster startup
    s = get_spark("opensearch-spark-tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture
def tier(monkeypatch):
    """``tier(True)`` forces the engine's driver-local tier on for every
    eligible search/msearch, ``tier(False)`` forces the Spark plan."""
    from opensearch_spark.search.engine import SearchEngine

    def force(on: bool) -> None:
        monkeypatch.setattr(SearchEngine, "MAX_DRIVER_WORK",
                            float("inf") if on else 0)

    return force


@pytest.fixture
def spark_path(tier):
    """Run the test on the Spark plan (driver-local tier off)."""
    tier(False)


def count_jobs(spark, fn):
    """(Spark jobs ``fn()`` ran, its result), counted through a job group
    and the status tracker."""
    import uuid

    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


@pytest.fixture
def jobs(spark):
    """``jobs(fn)`` -> (Spark jobs ``fn()`` ran, its result)."""
    return lambda fn: count_jobs(spark, fn)
