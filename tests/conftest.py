from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: opt-in tier — long soaks, registry-wide plan sweeps, "
        "randomized property suites. Skipped by default so the "
        "inner-loop gate stays fast; run them with "
        "SPARK_GRAFT_SLOW_TESTS=1 python -m pytest tests/ -q",
    )


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_SLOW_TESTS") == "1":
        return
    skip = pytest.mark.skip(
        reason="slow tier: SPARK_GRAFT_SLOW_TESTS=1 python -m pytest tests/ -q"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    from oarphpy_spark.session import SessionFactory

    import tempfile

    class TestSession(SessionFactory):
        APP_NAME = "oarphpy_spark_tests"
        CONF_KV = dict(
            SessionFactory.CONF_KV,
            **{
                "spark.sql.shuffle.partitions": "32",
                "spark.sql.warehouse.dir": tempfile.mkdtemp(
                    prefix="oarphpy_spark_wh_"
                ),
            },
        )

    spark = TestSession.getOrCreate()
    yield spark
