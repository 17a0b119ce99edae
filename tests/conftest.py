from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from panditya_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("panditya-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


def rows(df, *cols):
    """Collect as sorted list of tuples for order-insensitive equality."""
    if cols:
        df = df.select(*cols)
    return sorted((tuple(r) for r in df.collect()), key=repr)
