from __future__ import annotations

import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pharmacodi_spark.barrier import BARRIER_DIR_CONF
from pharmacodi_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    spark = get_spark(app_name="pharmacodi_spark_tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(params=["local", "loop"])
def cc_path(request, monkeypatch):
    """Run a connected-components test on both of its paths: the driver
    finish that small graphs take by default, and the round loop, forced
    by a bound no edge count is under (so even an empty graph loops)."""
    from pharmacodi_spark.text import clusters

    if request.param == "loop":
        monkeypatch.setattr(clusters, "CC_LOCAL_MAX_EDGES", -1)
    return request.param


@pytest.fixture
def durable_barriers(spark, tmp_path):
    """Context manager under which every ``stage_barrier`` pin is durable:
    ``spark.pharmacodi.barrierDir`` points at a fresh scratch dir, which
    the ``with`` yields. The conf is unset in a ``finally``, so it never
    leaks into a later test (job budgets count local pins)."""

    @contextlib.contextmanager
    def durable():
        root = tmp_path / "barriers"
        root.mkdir(exist_ok=True)
        spark.conf.set(BARRIER_DIR_CONF, str(root))
        try:
            yield root
        finally:
            spark.conf.unset(BARRIER_DIR_CONF)

    return durable
