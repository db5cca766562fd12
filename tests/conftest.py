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


class _SerialFuture:
    def __init__(self, fn, *a, **kw):
        try:
            self._res, self._exc = fn(*a, **kw), None
        except BaseException as e:  # noqa: BLE001
            self._res, self._exc = None, e

    def result(self):
        if self._exc is not None:
            raise self._exc
        return self._res


class _SerialExecutor:
    """Drop-in for ``concurrent.futures.ThreadPoolExecutor`` that runs
    each submitted callable inline on the calling thread. Patched over
    the real class to pin that ``concurrency.run_legs`` legs give the
    same results threaded and serial."""

    def __init__(self, *a, **kw):
        pass

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False

    def submit(self, fn, *a, **kw):
        return _SerialFuture(fn, *a, **kw)

    def map(self, fn, *iterables):
        return list(map(fn, *iterables))


@pytest.fixture
def serial_executor():
    """The serial inline executor class, for
    ``monkeypatch.setattr(concurrent.futures, "ThreadPoolExecutor", ...)``."""
    return _SerialExecutor


@pytest.fixture(scope="session")
def spark():
    # Small core count for test latency; configs identical to prod factory.
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"
