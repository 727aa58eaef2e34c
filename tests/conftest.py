from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.001"


def pytest_configure(config):
    config.addinivalue_line("markers", "slow: a longer end-to-end test; runs in tier-1 like the rest")


@pytest.fixture(scope="session")
def spark():
    from deep_query_optimization_spark.session import get_spark

    spark = get_spark("dqo-spark-tests", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def tables(spark, sf_dir):
    from deep_query_optimization_spark.catalog import load_tables

    return load_tables(spark, sf_dir)
