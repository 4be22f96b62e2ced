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


@pytest.fixture(scope="session")
def built_queries(spark, sf_dir):
    """Every declared query built once at sf0.001, in ``queries()`` order:
    name -> DataFrame, or the exception its builder raised.  The
    whole-inventory tests share these builds; each decides what a
    failed build means for it."""
    import __spark_entry__ as entrymod

    built = {}
    for name, fn in entrymod.queries().items():
        try:
            built[name] = fn(spark, sf_dir)
        except Exception as ex:  # noqa: BLE001
            built[name] = ex
    return built


@pytest.fixture(scope="session")
def egd_feed():
    """Writer of an EGD-shaped export: ``egd_feed(directory, costs=True)``
    writes ``directory/egd_gas.xml`` and returns its path.  One daily
    gas series (20 readings, the gas reading type), the US DST rules
    360E2000 / B40E2000 and ten readings around each edge of the 2024
    window, which the reference's weekday decoding puts at 2024-03-12
    and 2024-11-05, 02:00.  ``costs=False`` leaves out the cost tags,
    as the real EGD export does."""
    import calendar
    from pathlib import Path

    from tests.test_espi_synthetic_golden import RT_GAS, _reading, make_feed

    def write(directory, costs: bool = True) -> str:
        day = 86400
        firsts = (calendar.timegm((2024, 3, 5, 5, 0, 0)),
                  calendar.timegm((2024, 10, 29, 4, 0, 0)))
        readings = [
            _reading(t0 + k * day, day, 1000 + 37 * k,
                     cost=250000 + 1111 * k if costs else None)
            for t0 in firsts
            for k in range(10)
        ]
        xml = make_feed("myaccount.egd.example.com", -18000, [{
            "mr_id": "MRG1", "rt_id": "RTG1", "title": "EGD Gas Usage",
            "rt_fields": RT_GAS, "blocks": [readings],
        }]).replace(
            "<espi:dstStartRule>FFFFFFFF", "<espi:dstStartRule>360E2000"
        ).replace(
            "<espi:dstEndRule>FFFFFFFF", "<espi:dstEndRule>B40E2000"
        )
        path = Path(directory) / "egd_gas.xml"
        path.write_text(xml)
        return str(path)

    return write
