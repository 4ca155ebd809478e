from __future__ import annotations

import os
import sys

import pytest

#: the checkout this suite lives in; its package is the one under test
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from easy_etl_spark.session import get_spark, register_views

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("easy-etl-spark-tests", shuffle_partitions=8)
    register_views(spark, SF_DIR)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
