from __future__ import annotations

import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_io_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@contextmanager
def graph_path(solver: bool):
    """Force operators/graph.py's loops onto one path: the one-task numpy
    solver (``solver=True``) or the distributed Catalyst loop. Patches the
    ``fits_budget`` name graph.py looks up, so ``broadcaster`` keeps the
    session's own decision."""
    from etl_io_spark.operators import graph

    orig = graph.fits_budget
    graph.fits_budget = lambda gate: solver
    try:
        yield
    finally:
        graph.fits_budget = orig


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def cat(spark):
    from etl_io_spark.catalog import TableCatalog

    return TableCatalog(spark, SF_SMOKE)
