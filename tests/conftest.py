from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from icenetetl_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "icenetetl-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": "/tmp/icenetetl-test-warehouse"},
    )
    yield s
    s.stop()


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(fn)``: the Spark jobs ``fn`` starts, a diff of the
    status store's job list."""
    from perfbench.trace import SparkCounters

    bus = spark.sparkContext._jsc.sc().listenerBus()

    def count(fn) -> int:
        bus.waitUntilEmpty()
        counters = SparkCounters(spark)
        fn()
        bus.waitUntilEmpty()
        return int(counters.stop()["jobs"])

    return count


@pytest.fixture()
def warehouse(tmp_path):
    return str(tmp_path / "warehouse")
