from __future__ import annotations

import sys
import os

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from ccspark.session import get_spark

    s = get_spark("ccspark-tests", cores=4, shuffle_partitions=4)
    yield s
