"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry from ``__spark_entry__`` via Spark
``toPandas()`` and its ``oracle_sql()`` twin via DuckDB ``.df()`` at a
given scale factor, canonicalizes both frames the way the driver does
(columns sorted by name, rows sorted by all columns), and compares:

- ``rows_match``  — same row count
- ``schema_match`` — same sorted column names
- ``hash_match``  — exact value equality under strict typing: a cell
  holding ``Decimal`` is NOT equal to the same value as ``float``; a
  ``datetime.date`` is NOT equal to the same instant as a timestamp.
  (That strictness mirrors the driver's value-hash, which hashes the
  pandas representation — round-1 showed Decimal/date outputs hash
  differently from DuckDB's float64/datetime64.)

Timestamps of different resolutions (us vs ns) compare EQUAL — round 1
proved native-timestamp outputs hash green (``top_revenue_orders``).

Usage::

    python scripts/check_correctness.py                # all queries
    python scripts/check_correctness.py daily_orders   # subset
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 python scripts/check_correctness.py
"""

from __future__ import annotations

import datetime
import decimal
import json
import math
import os
import sys
import traceback

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def _cell(x):
    """Canonical, type-preserving cell value (None for any null)."""
    if x is None:
        return None
    if isinstance(x, float) and math.isnan(x):
        return None
    if x is pd.NaT:
        return None
    if isinstance(x, (np.integer,)):
        return ("i", int(x))
    if isinstance(x, (np.floating,)):
        return ("f", float(x))
    if isinstance(x, (pd.Timestamp, np.datetime64, datetime.datetime)):
        ts = pd.Timestamp(x)
        if ts is pd.NaT:
            return None
        return ("ts", ts.isoformat())
    if isinstance(x, datetime.date):
        return ("date", x.isoformat())  # distinct from ts on purpose
    if isinstance(x, decimal.Decimal):
        return ("dec", str(x))  # distinct from float on purpose
    if isinstance(x, bool) or isinstance(x, np.bool_):
        return ("b", bool(x))
    if isinstance(x, int):
        return ("i", x)
    if isinstance(x, float):
        return ("f", x)
    if isinstance(x, (list, np.ndarray)):
        return ("arr", tuple(_cell(v) for v in x))
    return ("o", str(x))


def _frame_cells(df: pd.DataFrame):
    return [tuple(_cell(v) for v in row) for row in df.itertuples(index=False)]


def compare(sdf: pd.DataFrame, odf: pd.DataFrame) -> dict:
    res = {
        "rows_match": len(sdf) == len(odf),
        "schema_match": sorted(sdf.columns) == sorted(odf.columns),
        "hash_match": False,
        "spark_rows": len(sdf),
        "oracle_rows": len(odf),
        "err": None,
        "dtype_diff": None,
        "first_diff": None,
    }
    if not (res["rows_match"] and res["schema_match"]):
        return res
    s, o = canon(sdf), canon(odf)
    # dtype report (informational; equality judged cell-wise)
    dd = {
        c: (str(s[c].dtype), str(o[c].dtype))
        for c in s.columns
        if str(s[c].dtype) != str(o[c].dtype)
    }
    # us-vs-ns datetime and int-width dtype diffs are proven
    # hash-stable (round 1: top_revenue_orders / text_stats passed the
    # driver with exactly these); drop them
    _ints = {"int8", "int16", "int32", "int64"}
    dd = {
        c: v
        for c, v in dd.items()
        if not (v[0].startswith("datetime64") and v[1].startswith("datetime64"))
        and not (v[0] in _ints and v[1] in _ints)
    }
    res["dtype_diff"] = dd or None
    sc, oc = _frame_cells(s), _frame_cells(o)
    if sc == oc and not dd:
        res["hash_match"] = True
        return res
    # find first differing cell for debugging
    for i, (a, b) in enumerate(zip(sc, oc)):
        if a != b:
            for j, (x, y) in enumerate(zip(a, b)):
                if x != y:
                    res["first_diff"] = {
                        "row": i,
                        "col": s.columns[j],
                        "spark": repr(x),
                        "oracle": repr(y),
                    }
                    break
            break
    return res


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    only = set(sys.argv[1:])

    import __spark_entry__ as entrymod
    from olist_lakehouse_2_0_spark import get_spark
    from olist_lakehouse_2_0_spark.catalog import TESTDATA_TABLES

    spark = get_spark(app_name="check-correctness")
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )

    results: dict[str, dict] = {}
    n_pass = n_fail = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        if name not in oracles:
            try:
                rows = fn(spark, sf_dir).count()
                results[name] = {"err": "no_oracle", "spark_rows": rows}
            except Exception:
                results[name] = {"err": traceback.format_exc(limit=3)}
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
            odf = con.execute(oracles[name]).df()
            r = compare(sdf, odf)
            results[name] = r
            if r["hash_match"]:
                n_pass += 1
            else:
                n_fail += 1
        except Exception:
            results[name] = {"err": traceback.format_exc(limit=5)}
            n_fail += 1
        status = results[name]
        flag = (
            "PASS"
            if status.get("hash_match")
            else ("NO_ORACLE" if status.get("err") == "no_oracle" else "FAIL")
        )
        print(f"[{flag}] {name}", flush=True)
        if flag == "FAIL":
            print(
                "   ",
                json.dumps(
                    {
                        k: status.get(k)
                        for k in ("rows_match", "schema_match", "dtype_diff", "first_diff", "err")
                        if status.get(k) is not None
                    },
                    default=str,
                )[:600],
                flush=True,
            )

    print(f"\n{n_pass} pass / {n_fail} fail "
          f"/ {len(results) - n_pass - n_fail} no-oracle")
    out = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                       "CHECK_LOCAL.json")
    with open(out, "w") as fh:
        json.dump(results, fh, indent=1, default=str)


if __name__ == "__main__":
    main()
