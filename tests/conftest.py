import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from numaflow_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("numaflow_spark_tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE
