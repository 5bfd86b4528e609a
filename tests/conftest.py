from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_T2 = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from ai_powered_e_commerce_analytics_spark.session import get_spark

    spark = get_spark(shuffle_partitions=8)
    yield spark


@pytest.fixture(autouse=True)
def _checkpoint_hygiene(request):
    """Release what each test shared (the session is shared across ~600
    tests, and leaked blocks would crowd the unified memory region), as
    bench.py does per query. Only scopes tests that use the session."""
    if "spark" not in request.fixturenames:
        yield
        return
    from ai_powered_e_commerce_analytics_spark.functions.core import released

    with released(request.getfixturevalue("spark")):
        yield


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
