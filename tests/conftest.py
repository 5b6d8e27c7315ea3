from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from cse_datapipeline_and_mls_spark.session import get_spark

    spark = get_spark("tests", shuffle_partitions=4)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture
def persistent_ids(spark):
    """A function returning the ids of the session's persistent RDDs now.
    Leak checks compare ids, not counts: earlier tests' blocks unpersist
    asynchronously, so a count can drop while a test runs."""

    def ids() -> set:
        return {
            int(k)
            for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
        }

    return ids
