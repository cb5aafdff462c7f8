from __future__ import annotations

import os
import sys

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from fawac_cdc_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "8"))
    spark = get_spark("tests", cpus=cpus)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF0001
