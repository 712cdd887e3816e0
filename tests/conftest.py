from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from radohydro_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    s = get_spark("radohydro_spark_tests", shuffle_partitions=4)
    yield s


@pytest.fixture
def cache_free_collect(spark):
    """Collect a built frame with no cache left to lean on: its plan may
    read no persisted intermediate, and every cache is dropped before
    the rows are computed (so a re-execution must agree with itself)."""
    from radohydro_spark.plans.pipeline import release_persisted

    def collect(df):
        plan = df.select("*")._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" not in plan
        spark.catalog.clearCache()
        release_persisted()
        return df.collect()

    return collect


SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "network: live-endpoint tests (set RADOHYDRO_NET_TESTS=1 to run)"
    )
