"""The one oracle check: a registered query against its DuckDB oracle.

The rule is the driver's strict one. Both pandas frames (Spark's
``toPandas()``, DuckDB's ``.df()``) get their columns sorted by name and
their rows sorted, then compare cell by cell on type-preserving values:

- a ``Decimal`` is not equal to the same value as a float, and a
  ``datetime.date`` is not equal to the same instant as a timestamp
  (the driver hashes the pandas representation; DuckDB gives float64
  and datetime64, hence the registry's ``driver_stable`` cast);
- timestamp dtypes of different resolutions (us vs ns) and integer
  dtypes of different widths compare equal;
- floats compare exactly.

``test_oracle_parity::test_parity`` asserts it per query. As a sweep it
prints one PASS/FAIL line per query, writes ``CHECK_LOCAL.json`` and
exits 1 when any query fails::

    python -m tests.oracle_utils                  # every query, sf0.01
    python -m tests.oracle_utils daily_orders     # a subset
    SPARK_GRAFT_SF_DIR=<testdata>/sf0.1 python -m tests.oracle_utils
"""

from __future__ import annotations

import datetime as _dt
import decimal
import json
import math
import os
import sys
import traceback

import duckdb
import numpy as np
import pandas as pd

from olist_lakehouse_2_0_spark.catalog import TESTDATA_TABLES

_INTS = {"int8", "int16", "int32", "int64"}


def run_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    with duckdb.connect() as con:
        for t in TESTDATA_TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        return con.sql(sql).df()


def _cell(x):
    """Type-tagged value of one cell; every null is ``()``, so rows of
    cells sort as plain tuples."""
    if x is None or x is pd.NaT:
        return ()
    if isinstance(x, (bool, np.bool_)):
        return ("b", bool(x))
    if isinstance(x, (int, np.integer)):
        return ("i", int(x))
    if isinstance(x, (float, np.floating)):
        return () if math.isnan(x) else ("f", float(x))
    if isinstance(x, (pd.Timestamp, np.datetime64, _dt.datetime)):
        ts = pd.Timestamp(x)
        return () if ts is pd.NaT else ("ts", ts.isoformat())
    if isinstance(x, _dt.date):
        return ("date", x.isoformat())
    if isinstance(x, decimal.Decimal):
        return ("dec", str(x))
    if isinstance(x, (list, np.ndarray)):
        return ("arr", tuple(_cell(v) for v in x))
    return ("o", str(x))


def _rows(df: pd.DataFrame) -> list[tuple]:
    return sorted(tuple(_cell(v) for v in row) for row in df.itertuples(index=False))


def _dtype_diff(spark: pd.DataFrame, oracle: pd.DataFrame) -> dict[str, tuple[str, str]]:
    diff = {}
    for c in spark.columns:
        a, b = str(spark[c].dtype), str(oracle[c].dtype)
        if a == b or (a in _INTS and b in _INTS) or (
            a.startswith("datetime64") and b.startswith("datetime64")
        ):
            continue
        diff[c] = (a, b)
    return diff


def compare(spark: pd.DataFrame, oracle: pd.DataFrame) -> dict:
    """The rule's record for two frames: ``match`` and, when they differ,
    ``why`` (the first differing row, column and both cells)."""
    cols = sorted(spark.columns)
    if cols != sorted(oracle.columns):
        return {"match": False, "why": f"columns spark={cols} oracle={sorted(oracle.columns)}"}
    if len(spark) != len(oracle):
        return {"match": False, "why": f"row count spark={len(spark)} oracle={len(oracle)}"}
    spark, oracle = spark[cols], oracle[cols]
    why = []
    if dtypes := _dtype_diff(spark, oracle):
        why.append(f"dtypes (spark, oracle) {dtypes}")
    for i, (a, b) in enumerate(zip(_rows(spark), _rows(oracle))):
        if a != b:
            j = next(j for j, (x, y) in enumerate(zip(a, b)) if x != y)
            why.append(f"row {i} column {cols[j]}: spark={a[j]!r} oracle={b[j]!r}")
            break
    return {"match": not why, "why": "; ".join(why)}


def assert_parity(spark_df, oracle_sql: str, sf_dir: str, name: str = "query"):
    rec = compare(spark_df.toPandas(), run_oracle(oracle_sql, sf_dir))
    assert rec["match"], f"{name}: {rec['why']}"


def main(names: list[str]) -> int:
    from olist_lakehouse_2_0_spark.queries import all_oracles, all_queries
    from tests.conftest import SF_CORRECTNESS, new_session

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", SF_CORRECTNESS)
    queries, oracles = all_queries(), all_oracles()
    if unknown := sorted(set(names) - set(queries)):
        raise SystemExit(f"unknown queries: {' '.join(unknown)}")
    spark = new_session()
    results = {}
    for name in names or queries:
        try:
            rec = compare(queries[name](spark, sf_dir).toPandas(), run_oracle(oracles[name], sf_dir))
        except Exception:
            rec = {"match": False, "why": traceback.format_exc(limit=5)}
        results[name] = rec
        print(f"[{'PASS' if rec['match'] else 'FAIL'}] {name}", flush=True)
        if not rec["match"]:
            print("   ", rec["why"][:600], flush=True)
    n_fail = sum(not rec["match"] for rec in results.values())
    print(f"\n{len(results) - n_fail} pass / {n_fail} fail")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "CHECK_LOCAL.json"), "w") as fh:
        json.dump(results, fh, indent=1, default=str)
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
