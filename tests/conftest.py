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
