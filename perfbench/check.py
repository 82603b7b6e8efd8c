"""Output check: a row count and an order-independent value hash per
query, compared with the expectations committed in ``expected.json``.

Both engines' results go through pandas (Spark's ``toPandas()``,
DuckDB's ``.df()``) and one normalisation: columns sorted by name,
integral values printed as integers, other floats to 7 significant
digits (so last-ulp differences in float aggregation order cannot flip
the hash), dates widened to midnight timestamps, arrays as tuples. Each
row is hashed with BLAKE2b and the row hashes are summed modulo 2**64,
so the digest does not depend on row order.

Regenerate the expectations from the DuckDB oracle (``all_oracles()``)
with::

    python3 perfbench/check.py

which also runs every query on Spark and reports any mismatch.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import json
import math
import os
import sys

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED_PATH = os.path.join(HERE, "expected.json")
_MASK = (1 << 64) - 1


def _cell(v) -> str:
    if v is None or v is pd.NaT:
        return "~"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        x = float(v)
        if math.isnan(x):  # pandas renders SQL NULL in float columns as NaN
            return "~"
        if x.is_integer() and abs(x) < 2**53:
            return str(int(x))
        return f"{x:.7g}"
    if isinstance(v, pd.Timestamp):
        return v.tz_localize(None).isoformat() if v.tzinfo else v.isoformat()
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, _dt.date):
        return _dt.datetime(v.year, v.month, v.day).isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{_cell(k)}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "(" + ",".join(_cell(x) for x in v) + ")"
    return str(v)


def digest(pdf: pd.DataFrame) -> dict:
    """Row count and order-independent hash of a result frame."""
    cols = sorted(pdf.columns)
    total = int.from_bytes(
        hashlib.blake2b("|".join(cols).encode(), digest_size=8).digest(), "little"
    )
    for row in pdf[cols].itertuples(index=False, name=None):
        key = "\x1f".join(_cell(v) for v in row).encode()
        total = (total + int.from_bytes(hashlib.blake2b(key, digest_size=8).digest(), "little")) & _MASK
    return {"rows": len(pdf), "hash": f"{total:016x}"}


def matches(exp: dict, got: dict) -> bool:
    """Whether a digest meets its expectation (``hash`` None: rows only)."""
    return got["rows"] == exp["rows"] and exp["hash"] in (None, got["hash"])


def load_expected() -> dict:
    with open(EXPECTED_PATH) as fh:
        return json.load(fh)


def _oracle_df(sql: str, sf_dir: str) -> pd.DataFrame:
    import duckdb

    from olist_lakehouse_2_0_spark.catalog import TESTDATA_TABLES

    con = duckdb.connect()
    try:
        for t in TESTDATA_TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        return con.sql(sql).df()
    finally:
        con.close()


def main() -> int:
    """Write ``expected.json`` from the DuckDB oracle and compare every
    query's Spark result with it; exit 1 on any mismatch."""
    import harness

    workloads = harness.load_workloads()
    env = harness.RunEnv.create(harness.repo_root(), trace=False)
    try:
        spark = env.start_session()
        from olist_lakehouse_2_0_spark.queries import all_oracles, all_queries

        queries, oracles = all_queries(), all_oracles()
        expected: dict[str, dict] = {}
        bad = 0
        for wname, spec in workloads.items():
            sf_dir = env.data_dir(spec["sf"])
            expected[wname] = {}
            for name in spec["queries"]:
                if name in oracles:
                    exp = digest(_oracle_df(oracles[name], sf_dir))
                    exp["source"] = "duckdb"
                else:
                    exp = {"rows": None, "hash": None, "source": "rows"}
                got = digest(queries[name](spark, sf_dir).toPandas())
                spark.catalog.clearCache()
                if exp["source"] == "rows":
                    exp["rows"] = got["rows"]
                ok = matches(exp, got)
                bad += not ok
                print(f"{wname} {name}: rows={got['rows']} {'ok' if ok else 'MISMATCH'}", file=sys.stderr)
                expected[wname][name] = exp
        with open(EXPECTED_PATH, "w") as fh:
            json.dump(expected, fh, indent=1, sort_keys=True)
            fh.write("\n")
        return 1 if bad else 0
    finally:
        env.close()


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
