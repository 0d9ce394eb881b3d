"""Shared fixtures: one SparkSession per test run, oracle comparison helpers."""

from __future__ import annotations

import os

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


def pytest_configure(config):
    # DataFrame.collect() reads its rows through a socket makefile
    # (pyspark.util._load_from_socket) and leaves the socket for the GC,
    # whose last reference drops inside socket.SocketIO.close — so under
    # `python -X dev` every collect warns. Ignore exactly that warning,
    # by message and by the module it is attributed to; every other
    # ResourceWarning stays visible.
    config.addinivalue_line(
        "filterwarnings",
        r"ignore:unclosed <socket\.socket:ResourceWarning:socket\Z",
    )


@pytest.fixture(scope="session")
def spark():
    """The one session of the run, built by the engine's ``get_spark``."""
    from iheardai_data_pipeline_spark.session import get_spark

    s = get_spark(app_name="iheardai-tests", extra_conf={"spark.driver.memory": "8g"})
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", SF_SMOKE)
