from __future__ import annotations

import contextlib
import re

import pytest

from hive_udf_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("hive_udf_spark-tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@contextlib.contextmanager
def _raises_guard_error(pattern: str):
    """Expect the body to fail through a ``raise_error`` guard whose
    message matches ``pattern``. One failing stage surfaces as the
    guard's own SparkRuntimeException. When AQE sees several stages fail
    at once it raises one STAGE_MATERIALIZATION_MULTIPLE_FAILURES
    SparkException instead (PySpark leaves it a Py4JJavaError); that
    counts only if the guard's error is in its cause chain."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    with pytest.raises((SparkRuntimeException, Py4JJavaError)) as info:
        yield
    exc = info.value
    if isinstance(exc, SparkRuntimeException):
        assert exc.getCondition() == "USER_RAISED_EXCEPTION", exc
        assert re.search(pattern, str(exc)), exc
        return
    wrapper = exc.java_exception
    assert "[STAGE_MATERIALIZATION_MULTIPLE_FAILURES]" in str(wrapper.getMessage()), exc
    cause = wrapper.getCause()
    while cause is not None:
        msg = str(cause.getMessage())
        if "[USER_RAISED_EXCEPTION]" in msg and re.search(pattern, msg):
            return
        cause = cause.getCause()
    pytest.fail(f"no {pattern!r} guard error among the causes of: {exc}")


@pytest.fixture(scope="session")
def raises_guard_error():
    return _raises_guard_error
