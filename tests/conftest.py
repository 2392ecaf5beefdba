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
def _fits_budget_forced(module, fits: bool):
    """Patch the ``fits_budget`` name ``module`` looks up to a constant,
    so ``partitioning.broadcaster`` keeps the session's own decision."""
    orig = module.fits_budget
    module.fits_budget = lambda gate: fits
    try:
        yield
    finally:
        module.fits_budget = orig


@contextmanager
def graph_path(solver: bool):
    """Force operators/graph.py's loops onto one path: the one-task numpy
    solver (``solver=True``) or the distributed Catalyst loop."""
    from etl_io_spark.operators import graph

    with _fits_budget_forced(graph, solver):
        yield


@contextmanager
def writer_path(gathered: bool):
    """Force sources/writers.py's layout writers onto one path: the
    gathered one-task sort (``gathered=True``) or the range exchange."""
    from etl_io_spark.sources import writers

    with _fits_budget_forced(writers, gathered):
        yield


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def cat(spark):
    from etl_io_spark.catalog import TableCatalog

    return TableCatalog(spark, SF_SMOKE)
