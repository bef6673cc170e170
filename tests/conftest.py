from __future__ import annotations

import pytest

from halyard_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="halyard_spark_tests")
    yield s


@pytest.fixture(scope="session")
def sf001_dir() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf01_dir() -> str:
    return "/root/testdata/sf0.01"
