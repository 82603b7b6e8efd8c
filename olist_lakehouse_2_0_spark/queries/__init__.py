"""Query registry: the driver contract's queries() / oracle_sql() source.

Submodules contribute (name -> callable) and (name -> DuckDB SQL) dicts;
this module merges them in module order. Every query has an oracle.

Driver-stable output canonicalization
-------------------------------------
The driver hash-compares Spark results (``toPandas()``) against DuckDB
results (``.df()``). DuckDB's pandas conversion always yields float64
for DECIMAL and datetime64 for DATE — while Spark's yields ``Decimal``
and ``datetime.date`` objects, which hash differently even when the
values are identical (round-1 root cause: 28 value-identical queries
failed the hash on exactly this). Queries therefore keep *exact decimal
arithmetic internally* (order-independent, overflow-safe at 1000-way
parallelism — see SURVEY §7.4) and this registry casts only the FINAL
output columns to the driver-stable twins: DecimalType -> double,
DateType -> timestamp. Decimal->double is a single correctly-rounded
IEEE conversion of the already-quantized decimal on both engines, so
values stay deterministic; it is NOT float accumulation.

Residual hazard: a double that lands exactly on a decimal-cast tie
rounds differently in the two engines (see ``fixedpoint``). Queries
whose averages are exposed through a decimal cast accept this
measure-zero risk; integer ratios, where ties are routine, go through
``fixedpoint.ratio`` instead — use it if another query ever trips.

Cache rule
----------
A query may ``persist()`` a subtree that several branches of its result
read (a codebook, token counts, a pair set). It cannot unpersist it:
the returned DataFrame reads the cache lazily, after the function has
returned. So the registry owns the cache's lifetime: every registered
query starts with ``spark.catalog.clearCache()`` (:func:`_stabilized`),
which drops whatever the previous query left cached, and no query reads
another's cache. Operators and queries that persist point here instead
of unpersisting. ``clearCache`` is session-global, so registry wrappers
must not run concurrently on one session; the engine's thread pools and
``run.py`` call query and operator functions directly, never these
wrappers.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from olist_lakehouse_2_0_spark.queries.analytics import (
    ANALYTICS_ORACLES,
    ANALYTICS_QUERIES,
)
from olist_lakehouse_2_0_spark.queries.cdc_queries import (
    CDC_ORACLES,
    CDC_QUERIES,
)
from olist_lakehouse_2_0_spark.queries.event_queries import (
    EVENT_ORACLES,
    EVENT_QUERIES,
)
from olist_lakehouse_2_0_spark.queries.join_grouping import (
    JOIN_GROUPING_ORACLES,
    JOIN_GROUPING_QUERIES,
)
from olist_lakehouse_2_0_spark.queries.governance_queries import (
    GOVERNANCE_ORACLES,
    GOVERNANCE_QUERIES,
)
from olist_lakehouse_2_0_spark.queries.llm_queries import (
    LLM_ORACLES,
    LLM_QUERIES,
)
from olist_lakehouse_2_0_spark.queries.relational import (
    RELATIONAL_ORACLES,
    RELATIONAL_QUERIES,
)
from olist_lakehouse_2_0_spark.queries.window_analytics import (
    WINDOW_ANALYTICS_ORACLES,
    WINDOW_ANALYTICS_QUERIES,
)

QueryFn = Callable[[SparkSession, str], DataFrame]


def driver_stable(df: DataFrame) -> DataFrame:
    """Cast final output columns to driver-stable types.

    DecimalType -> double and DateType -> timestamp, matching what
    DuckDB's ``.df()`` emits for the oracle side (see module docstring).
    A no-op (no extra projection) when nothing needs casting; Catalyst
    collapses the added projection otherwise.
    """
    cols = []
    changed = False
    for f in df.schema.fields:
        if isinstance(f.dataType, T.DecimalType):
            cols.append(F.col(f.name).cast("double").alias(f.name))
            changed = True
        elif isinstance(f.dataType, T.DateType):
            cols.append(F.col(f.name).cast("timestamp").alias(f.name))
            changed = True
        else:
            cols.append(F.col(f.name))
    return df.select(*cols) if changed else df


def _stabilized(fn: QueryFn) -> QueryFn:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        spark.catalog.clearCache()  # the cache rule (module docstring)
        return driver_stable(fn(spark, sf_dir))

    run.__name__ = getattr(fn, "__name__", "query")
    run.__doc__ = fn.__doc__
    return run


def all_queries() -> dict[str, QueryFn]:
    queries: dict[str, QueryFn] = {}
    queries.update(RELATIONAL_QUERIES)
    queries.update(ANALYTICS_QUERIES)
    queries.update(WINDOW_ANALYTICS_QUERIES)
    queries.update(JOIN_GROUPING_QUERIES)
    queries.update(GOVERNANCE_QUERIES)
    queries.update(CDC_QUERIES)
    queries.update(LLM_QUERIES)
    queries.update(EVENT_QUERIES)
    return {name: _stabilized(fn) for name, fn in queries.items()}


def all_oracles() -> dict[str, str]:
    oracles: dict[str, str] = {}
    oracles.update(RELATIONAL_ORACLES)
    oracles.update(ANALYTICS_ORACLES)
    oracles.update(WINDOW_ANALYTICS_ORACLES)
    oracles.update(JOIN_GROUPING_ORACLES)
    oracles.update(GOVERNANCE_ORACLES)
    oracles.update(CDC_ORACLES)
    oracles.update(LLM_ORACLES)
    oracles.update(EVENT_ORACLES)
    return oracles
