from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # lighter for tests
    from metoffice_spark.session import get_spark

    s = get_spark("metoffice-tests")
    yield s


@pytest.fixture(autouse=True)
def _release_scoped_persists():
    """Release every scoped persist after each test. Tests that call a
    builder directly skip the registry's scope rotation, so without
    this a later test could plan against a cache an earlier one left."""
    yield
    from metoffice_spark.session import release_scoped_persists

    release_scoped_persists()


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correct() -> str:
    return SF_CORRECT
