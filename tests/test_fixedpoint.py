"""``fixedpoint``: the half-up quantiser and integer ratio against exact
Python integer arithmetic, and the int64 overflow the quotient/remainder
form avoids."""

from __future__ import annotations

import math
from fractions import Fraction

import pytest
from pyspark.sql import functions as F

from olist_lakehouse_2_0_spark.fixedpoint import quantize, ratio


def _half_up(a: int, n: int, s: int) -> int | None:
    """round_half_up(a·s / n) in exact integer arithmetic."""
    return None if n == 0 else math.floor(Fraction(a * s, n) + Fraction(1, 2))


def _ratios(spark, rows, s):
    df = spark.createDataFrame(rows, "a long, n long")
    return [r[0] for r in df.select(ratio("a", "n", s)).orderBy("a", "n").collect()]


RATIO_CASES = [
    (7, 0),  # n = 0
    (0, 0),
    (0, 1),  # n = 1
    (7, 1),
    (123456789, 1),
    (1, 2),  # exact .5 ties
    (3, 2),
    (5, 2),
    (1, 8),
    (11, 8),
    (1, 3),  # non-ties either side of .5
    (2, 3),
    (999999, 1000000),
    (12345678901, 7),
]


@pytest.mark.parametrize("s", [1, 10, 10000, 1000000])
def test_ratio_matches_exact_integer_half_up(spark, s):
    rows = sorted(RATIO_CASES)
    assert _ratios(spark, rows, s) == [_half_up(a, n, s) for a, n in rows]


def test_ratio_ties_round_up(spark):
    # s = 1: 1/2 -> 1, 3/2 -> 2, 5/2 -> 3, 11/8 = 1.375 -> 1, 12/8 -> 2
    rows = [(1, 2), (3, 2), (5, 2), (11, 8), (12, 8)]
    assert _ratios(spark, rows, 1) == [1, 2, 3, 1, 2]


def test_ratio_past_naive_overflow(spark):
    """5e14 cents at s = 10000: the naive ``(c*20000 + n) div 2n`` form
    multiplies past int64 and raises under ANSI mode; the
    quotient/remainder form returns the exact value."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    cents, n = 5 * 10**14, 3
    assert _ratios(spark, [(cents, n)], 10000) == [_half_up(cents, n, 10000)]
    assert _half_up(cents, n, 10000) == 1666666666666666667
    df = spark.createDataFrame([(cents, n)], "a long, n long")
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        df.select(F.expr("(a * 20000 + n) div nullif(2 * n, 0)")).collect()


def _quantized(spark, xs):
    df = spark.createDataFrame([(x,) for x in xs], "x double")
    return [r[0] for r in df.select(quantize(F.col("x"))).orderBy("x").collect()]


def test_quantize_ties_at_half_units_round_up(spark):
    """x = m/128 with m odd is dyadic and x·1e6 = m·7812.5 exactly, so
    the IEEE product is the exact tie k + 0.5; half-up takes k + 1, also
    for negative x (toward +inf)."""
    xs = sorted(m / 128 for m in (-3, -1, 1, 3, 5, 127))
    for x in xs:
        assert x * 1e6 == Fraction(x) * 10**6  # the tie is exact in IEEE
    expected = [math.floor(Fraction(x) * 10**6 + Fraction(1, 2)) for x in xs]
    assert expected[:2] == [-23437, -7812]
    assert _quantized(spark, xs) == expected


def test_quantize_matches_ieee_floor(spark):
    """Off the ties: the same IEEE multiply/add/floor as Python floats."""
    xs = sorted([0.0, 1.0, -1.0, 0.1234564999, -2.718281828459045,
                 math.log(3) - math.log(7), 1e-7, 0.9999995])
    assert _quantized(spark, xs) == [math.floor(x * 1e6 + 0.5) for x in xs]
