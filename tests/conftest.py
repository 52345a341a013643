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


class InjectedFault(RuntimeError):
    """Raised by ``fail_nth_write`` in place of a write."""


@pytest.fixture
def fail_nth_write(monkeypatch):
    """``fail_nth_write(n)`` makes the n-th write from then on raise
    InjectedFault instead of writing; ``fail_nth_write(0)`` disarms.
    Writes are the driver's data writes (a Spark ``DataFrameWriter.parquet``
    or a pyarrow ``parquet.write_table``) and manifest writes (the
    ``os.replace`` onto a ``manifest.json``). Returns the counter dict:
    ``seen`` is the number of writes since arming."""
    import pyarrow.parquet as pq
    from pyspark.sql.readwriter import DataFrameWriter

    state = {"n": 0, "seen": 0}

    def counted(fn, is_write=lambda *a: True):
        def write(*args, **kwargs):
            if is_write(*args):
                state["seen"] += 1
                if state["seen"] == state["n"]:
                    raise InjectedFault(f"injected failure of write {state['n']}")
            return fn(*args, **kwargs)
        return write

    monkeypatch.setattr(DataFrameWriter, "parquet", counted(DataFrameWriter.parquet))
    monkeypatch.setattr(pq, "write_table", counted(pq.write_table))
    monkeypatch.setattr(os, "replace", counted(
        os.replace, lambda src, dst: os.path.basename(dst) == "manifest.json"))

    def arm(n: int) -> dict:
        state.update(n=n, seen=0)
        return state

    return arm
