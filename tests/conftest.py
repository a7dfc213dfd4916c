from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from simple_etl_pipeline_spark.session import get_spark

    spark = get_spark(app_name="tests", shuffle_partitions=4)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
