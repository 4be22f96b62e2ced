from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
# get_spark defaults the driver heap to 16g, more than a 15 GB host
# holds once the JVM grows; the suite fits comfortably in 4g
os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: long-running scale/bucketing tests (deselect with -m 'not slow')"
    )

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from greenbuttonengine_spark.session import get_spark

    spark = get_spark(app_name="gbe-tests", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correct_dir():
    return SF_CORRECT
