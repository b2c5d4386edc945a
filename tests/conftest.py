from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from railgun_spark.session import get_spark

    s = get_spark("railgun_spark_tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
