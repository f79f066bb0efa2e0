from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pg2kinesis_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pg2kinesis_spark_tests")
    yield s


@pytest.fixture(scope="session")
def sf_small() -> str:
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_oracle() -> str:
    return SF_ORACLE


@pytest.fixture(scope="session")
def pk_fixture_dir() -> str:
    return os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures")
