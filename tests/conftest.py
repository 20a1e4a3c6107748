from __future__ import annotations

import os
import sys
import warnings

import pytest
from py4j.protocol import Py4JError

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

_SPARK = pytest.StashKey()


def _new_session():
    from chatbot_spark.session import get_spark

    return get_spark("tests", master="local[8]", shuffle_partitions=8)


def _alive(s) -> bool:
    """One py4j round trip: False once the driver JVM is gone or stopped."""
    try:
        return not s.sparkContext._jsc.sc().isStopped()
    except (Py4JError, OSError, AttributeError):  # AttributeError: stopped from Python
        return False


def _rebuild(s) -> None:
    """Start a new driver JVM and session and move it into `s`, so every
    reference the tests and fixtures hold to the session object stays valid."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    try:
        s.stop()
    except (Py4JError, OSError):
        pass  # the JVM half of stop() fails on a lost JVM
    if SparkContext._gateway is not None:
        SparkContext._gateway.shutdown(raise_exception=False)
    SparkContext._gateway = SparkContext._jvm = None
    SparkContext._active_spark_context = None
    SparkSession._instantiatedSession = SparkSession._activeSession = None
    fresh = _new_session()
    s.__dict__.clear()
    s.__dict__.update(fresh.__dict__)
    SparkSession._instantiatedSession = SparkSession._activeSession = s


@pytest.fixture(scope="session")
def spark(pytestconfig):
    s = _new_session()
    pytestconfig.stash[_SPARK] = s
    yield s
    s.stop()


@pytest.hookimpl(tryfirst=True)
def pytest_runtest_setup(item):
    """Before a test's fixtures are set up, check the shared session's JVM.
    If it is gone, rebuild the session in place and drop the cached values of
    every module- and class-scoped fixture (DataFrames and indexes of
    the lost JVM), so they are built again on the new one: a lost JVM fails
    only the test that hit it, not the rest of the run."""
    s = item.config.stash.get(_SPARK, None)
    if s is None or _alive(s):
        return
    _rebuild(s)
    for defs in item.session._fixturemanager._arg2fixturedefs.values():
        for fixturedef in defs:
            if fixturedef.scope in ("class", "module", "package") and fixturedef.cached_result:
                try:
                    fixturedef.finish(item._request)
                except Exception as e:  # teardown of a value built on the lost JVM
                    warnings.warn(f"teardown of {fixturedef.argname} after a lost JVM: {e!r}")


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE
