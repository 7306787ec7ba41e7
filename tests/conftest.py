from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
# Tests pinned to sf0.01 goldens read the sf0.01 sibling of SF_DIR.
SF001_DIR = os.path.join(os.path.dirname(os.path.abspath(SF_DIR)), "sf0.01")


@pytest.fixture(scope="session")
def spark():
    from mapreduce_hadoop_spark.session import get_spark

    spark = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield spark


@pytest.fixture
def jobs_run(spark):
    """``jobs_run(fn)`` calls ``fn()`` in a job group of its own and returns
    (its result, the number of Spark jobs it started)."""
    import time
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"jobs_run_{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # Job events reach the status tracker through the asynchronous
        # listener bus: wait until the count stops moving.
        n, deadline = -1, time.time() + 10
        while time.time() < deadline:
            now = len(sc.statusTracker().getJobIdsForGroup(group))
            if now == n and now > 0:
                break
            n = now
            time.sleep(0.5)
        return out, n

    return run


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def sf001_dir():
    return SF001_DIR


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
