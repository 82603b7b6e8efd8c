"""The engine's one numeric rule for exact averages, ratios and scores:
values cross partitions as integer 1e-6 units, rounded half-up.

Sums of doubles depend on the order partitions are merged in, so a
double average or log-prob sum is not bit-identical across parallelism
and does not hash-match an oracle (SURVEY §7.4). Integer sums are. Two
ways into integer units, one function each:

- :func:`quantize` — a double (a log-prob, a cosine, a BM25 term) to
  ``floor(x·1e6 + 0.5)``. IEEE multiply, add and floor are correctly
  rounded, so Spark and DuckDB compute the same long from the same
  double. Engine-native double→decimal casts do not agree: Spark's
  BigDecimal takes the shortest decimal repr and rounds half-up, DuckDB
  multiplies and rounds half-even, and a value that lands on a .5 tie
  at the cast scale differs by one unit (hit once, at sf0.001, on an
  ``orders_by_state`` average).

  The unit is 1e-6, not 1e-9: ``log`` is not guaranteed correctly
  rounded across libm implementations, and a 1-ulp difference in ``x``
  flips the quantized value with probability about ``|x|·1.1e-16·Q`` per
  distinct key — about 1e-9 at Q = 1e6 (negligible at billions of
  distinct tokens), about 1e-6 at Q = 1e9.

- :func:`ratio` — ``round_half_up(a·s / n)`` from integers, in the
  quotient/remainder form ``(a div n)·s + (2·(a % n)·s + n) div 2n``.
  For 0 ≤ a it equals the naive ``(2·a·s + n) div 2n``, but every
  intermediate is bounded by ``max(a/n·s, 2·n·s)`` instead of ``2·a·s``.
  The naive form passes int64 once ``a·s`` exceeds ~4.6e18: at
  ``s = 10000`` that is ~4.6e14 cents in one group, below one day of
  orders at the 100 TB design scale. With ANSI mode on it raises
  ``ARITHMETIC_OVERFLOW``; without, it wraps. ``n = 0`` gives NULL.

After either, downstream products and sums are exact integer math:
bit-identical at any parallelism and equal to the single-threaded
oracle (``tests/test_fixedpoint.py``, and the 3-vs-64 shuffle-partition
check in ``tests/test_determinism.py``). Callers expose the units as
``units.cast("double") / 1e6``, one correctly rounded IEEE division.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def quantize(x: Column) -> Column:
    """Double column ``x`` as long 1e-6 units, half-up:
    ``floor(x·1e6 + 0.5)``."""
    return F.floor(x * F.lit(1e6) + F.lit(0.5))


def ratio(a: str, n: str, s: int) -> Column:
    """``round_half_up(a·s / n)`` as a long, NULL when ``n`` is 0, for
    SQL integer expressions ``a`` ≥ 0 and ``n`` > 0 and integer scale
    ``s`` (``10000``: cents to 1e-6 units; ``1000000``: counts)."""
    a, n = f"({a})", f"({n})"
    return F.expr(
        f"({a} div nullif({n}, 0)) * {s}"
        f" + (2 * ({a} % nullif({n}, 0)) * {s} + {n}) div nullif(2 * {n}, 0)"
    )
