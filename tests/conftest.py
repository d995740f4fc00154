from __future__ import annotations

import os
import signal
import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"

# The suite's inputs are a few MB; a 16 GB driver heap (the library
# default) lets the JVM grow to ~8 GB resident before collecting. A
# smaller heap keeps the session's footprint bounded on shared hosts.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")

# Per-phase wall-clock limit: a test (or fixture) that stops making
# progress fails on its own instead of running the whole suite into
# its time budget. The slowest phase takes well under a minute.
PHASE_TIME_LIMIT_S = 300


def _time_limited(item, phase: str):
    expired = []

    def _expire(signum, frame):
        expired.append(phase)
        raise TimeoutError(f"{item.nodeid} {phase} ran past {PHASE_TIME_LIMIT_S} s")

    prev = signal.signal(signal.SIGALRM, _expire)
    signal.alarm(PHASE_TIME_LIMIT_S)
    try:
        yield
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, prev)
        if expired:
            # stop the Spark work the stuck phase left running, so
            # the next test does not queue behind it
            from pyspark import SparkContext

            if SparkContext._active_spark_context is not None:
                SparkContext._active_spark_context.cancelAllJobs()


@pytest.hookimpl(hookwrapper=True)
def pytest_runtest_setup(item):
    yield from _time_limited(item, "setup")


@pytest.hookimpl(hookwrapper=True)
def pytest_runtest_call(item):
    yield from _time_limited(item, "call")


@pytest.hookimpl(hookwrapper=True)
def pytest_runtest_teardown(item):
    yield from _time_limited(item, "teardown")


@pytest.fixture(scope="session")
def spark():
    from iceberg_tools_spark.session import get_spark

    s = get_spark("iceberg_tools_spark_tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    from iceberg_tools_spark.parity import duck_connection

    con = duck_connection(SF_ORACLE)
    yield con
    con.close()
