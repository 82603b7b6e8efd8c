"""Every declared query must match its DuckDB oracle (mirrors driver t2)
and stay within its plan census (``tests/plan_census.py``)."""

from __future__ import annotations

import pytest

from olist_lakehouse_2_0_spark.queries import all_oracles, all_queries
from tests import plan_census
from tests.oracle_utils import assert_parity

QUERIES = all_queries()
ORACLES = all_oracles()
CENSUS = plan_census.load()


def test_every_oracle_has_query():
    missing = set(ORACLES) - set(QUERIES)
    assert not missing, f"oracles without queries: {missing}"


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_parity(spark, sf_correctness, name):
    since = plan_census.mark(spark)
    df = QUERIES[name](spark, sf_correctness)
    assert_parity(df, ORACLES[name], sf_correctness, name=name)
    plan_census.check(name, plan_census.census(spark, since), CENSUS)


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only(spark, sf_correctness, name):
    df = QUERIES[name](spark, sf_correctness)
    assert df.count() >= 0
    assert df.schema is not None
