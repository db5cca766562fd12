from __future__ import annotations

import os

import pytest

from lms_erp_data_integration_spark.session import get_spark


def _half_mem_total() -> str:
    """Half of the machine's MemTotal, capped at the production 48g
    default, as a Spark size string. The JVM grows its heap toward
    ``spark.driver.memory``; on a box smaller than 96 GB the 48g
    default lets it reach the whole of RAM inside the property tests."""
    cap_mb = 48 * 1024
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    kb = int(line.split()[1])
                    return f"{min(kb // 2 // 1024, cap_mb)}m"
    except OSError:
        pass
    return f"{cap_mb}m"


# Only the test session is sized down; get_spark's own default is untouched.
os.environ.setdefault("SPARK_DRIVER_MEM", _half_mem_total())


@pytest.fixture(scope="session")
def spark():
    # Small core count for test latency; configs identical to prod factory.
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"
