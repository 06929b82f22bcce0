from __future__ import annotations

import os
import sys

import pytest

# test the checkout this file lives in, wherever it is
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dygiepp_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"
