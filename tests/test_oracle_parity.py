"""Every registered query must match its DuckDB oracle under the driver's
strict rule (``tests/oracle_utils.py``) and stay within its plan census
(``tests/plan_census.py``)."""

from __future__ import annotations

from datetime import date
from decimal import Decimal

import numpy as np
import pandas as pd
import pytest

from olist_lakehouse_2_0_spark.queries import all_oracles, all_queries
from tests import plan_census
from tests.oracle_utils import assert_parity, compare

QUERIES = all_queries()
ORACLES = all_oracles()
CENSUS = plan_census.load()


def test_every_oracle_has_query():
    missing = set(ORACLES) - set(QUERIES)
    assert not missing, f"oracles without queries: {missing}"


def test_every_query_has_oracle():
    assert set(QUERIES) == set(ORACLES)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_parity(spark, sf_correctness, name):
    since = plan_census.mark(spark)
    df = QUERIES[name](spark, sf_correctness)
    assert_parity(df, ORACLES[name], sf_correctness, name=name)
    plan_census.check(name, plan_census.census(spark, since), CENSUS)


def test_registry_clears_cache_before_each_query(spark, sf_smoke):
    """No query reads another's cache: ``bigram_logprob`` returns with
    persisted frames its result reads lazily, and the next registry
    call drops them before it builds anything."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    QUERIES["bigram_logprob"](spark, sf_smoke).write.format("noop").mode("overwrite").save()
    assert not cache.isEmpty()
    QUERIES["daily_orders"](spark, sf_smoke)
    assert cache.isEmpty()


def _match(spark_cols: dict, oracle_cols: dict) -> bool:
    return compare(pd.DataFrame(spark_cols), pd.DataFrame(oracle_cols))["match"]


@pytest.mark.parametrize(
    "spark_col, oracle_col",
    [
        ([Decimal("1.50")], [1.5]),
        ([date(2020, 1, 2)], pd.to_datetime(["2020-01-02"])),
        ([1.0], [np.nextafter(1.0, 2.0)]),
    ],
    ids=["decimal_vs_float64", "date_vs_datetime64", "float_one_ulp"],
)
def test_rule_mismatch(spark_col, oracle_col):
    assert not _match({"v": spark_col}, {"v": oracle_col})


@pytest.mark.parametrize(
    "spark_cols, oracle_cols",
    [
        (
            {"t": pd.Series(["2020-01-02 03:04:05.123456"], dtype="datetime64[us]")},
            {"t": pd.Series(["2020-01-02 03:04:05.123456"], dtype="datetime64[ns]")},
        ),
        ({"n": pd.Series([1, 2], dtype="int32")}, {"n": pd.Series([2, 1], dtype="int64")}),
        ({"a": [2, 1], "b": ["y", "x"]}, {"b": ["x", "y"], "a": [1, 2]}),
    ],
    ids=["us_vs_ns", "int32_vs_int64", "column_and_row_order"],
)
def test_rule_match(spark_cols, oracle_cols):
    assert _match(spark_cols, oracle_cols)


def test_rule_failure_names_row_column_and_cells():
    spark = pd.DataFrame({"k": [1, 2], "v": [None, 0.5]})
    oracle = pd.DataFrame({"k": [1, 2], "v": [None, 0.25]})
    assert compare(spark, oracle)["why"] == "row 1 column v: spark=('f', 0.5) oracle=('f', 0.25)"
