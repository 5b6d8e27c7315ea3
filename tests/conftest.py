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
