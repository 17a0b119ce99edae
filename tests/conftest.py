from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from panditya_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    # The status store keeps 1000 stages by default and evicts skipped
    # stages first, even the newest; test_serving.py::test_job_shape
    # reads every stage of a job, so the session keeps them all.
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.retainedStages=1000000 " + (
        os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")
    )
    s = get_spark("panditya-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


def rows(df, *cols):
    """Collect as sorted list of tuples for order-insensitive equality."""
    if cols:
        df = df.select(*cols)
    return sorted((tuple(r) for r in df.collect()), key=repr)


def force_distributed_tier(mp: pytest.MonkeyPatch) -> None:
    """Send every non-empty graph to the graph operators' distributed
    loops: a local-tier edge cap of 0 fails the size probe."""
    from panditya_spark.operators import graph

    mp.setattr(graph, "_local_cap", lambda spark: 0)


@pytest.fixture()
def distributed_tier(monkeypatch):
    """Run the whole test on the graph operators' distributed tier."""
    force_distributed_tier(monkeypatch)


@pytest.fixture()
def graph_tiers(monkeypatch):
    """Run one test body on both graph tiers: ``for tier in
    graph_tiers():`` yields "local", then "distributed" with the
    distributed tier forced until the test ends. Looping inside the
    test keeps its id unchanged."""

    def tiers():
        yield "local"
        force_distributed_tier(monkeypatch)
        yield "distributed"

    return tiers
