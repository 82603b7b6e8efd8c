"""Shared pytest fixtures: one SparkSession per test session."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from olist_lakehouse_2_0_spark import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


def new_session():
    """The session the suite runs on; ``tests.plan_census`` uses it too."""
    import tempfile

    return get_spark(
        app_name="olist-lakehouse-tests",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={
            "spark.driver.memory": "8g",
            # saveAsTable targets (bucketing tests); static conf, so it
            # must be set at session build time.
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="wh_"),
        },
    )


@pytest.fixture(scope="session")
def spark():
    yield new_session()


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correctness() -> str:
    return SF_CORRECTNESS
