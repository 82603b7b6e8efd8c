"""Deterministic input tables for the benchmark.

Writes the ten tables the registered queries read (``region`` ...
``embeddings``, one ``{name}.parquet`` file each) with the same schemas,
value domains and per-scale row counts as the engine's reference test
data: uniform TPC-H-ish keys and measures, an ordered event stream with
``{"k": n}`` JSON props, word-bag documents of which about 5% are an
earlier document plus the token ``dup``, and unit-norm 64-d embeddings
around ten label centroids.

Every value is drawn from one NumPy ``PCG64`` stream seeded by
``(DATA_SEED, sf * 1000)``, so the same scale factor always yields the
same bytes; the committed expectations in ``expected.json`` rely on it.

Usage::

    python3 perfbench/datagen.py OUT_DIR SF
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: Fixed data seed. The benchmark's ``--seed`` varies query order only,
#: so that every run checks against the same committed expectations.
DATA_SEED = 42

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
WORDS = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
)
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.43, 0.1425, 0.1425, 0.1425, 0.1425)
EMBED_DIM = 64


def _days(rng: np.random.Generator, start: str, n_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf: float) -> dict[str, pd.DataFrame]:
    """All ten tables at scale factor ``sf`` as pandas frames."""
    rng = np.random.default_rng([DATA_SEED, int(round(sf * 1000))])
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_orders = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_events = int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))

    out: dict[str, pd.DataFrame] = {}
    out["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype="int32"), "r_name": list(REGIONS)}
    )
    out["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        }
    )
    out["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": _money(rng, -1000.0, 10000.0, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    out["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": _money(rng, -1000.0, 10000.0, n_supp),
        }
    )
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    out["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": np.char.add(np.char.add(adj, " "), noun),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": (9000 + np.arange(n_part) % 1000) / 10.0,
        }
    )
    out["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_orders, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_orders).astype("int64"),
            "o_orderstatus": np.array(("F", "O", "P"))[rng.integers(0, 3, n_orders)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
            "o_orderdate": _days(rng, "1995-01-01", 2404, n_orders),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
        }
    )
    out["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_orders, n_line).astype("int64"),
            "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
            "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
            "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(("A", "N", "R"))[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(("F", "O"))[rng.integers(0, 2, n_line)],
            "l_shipdate": _days(rng, "1995-01-02", 2499, n_line),
        }
    )
    # Events: strictly increasing microsecond timestamps over 30 days,
    # stored as TIMESTAMP(MICROS) like the reference data at every scale
    # factor. The package also reads TIMESTAMP(NANOS) files (through the
    # nanosAsLong legacy flag), but that fallback is not the path the
    # reference tables take, so the benchmark does not time it.
    span_us = 30 * 86_400 * 1_000_000
    ts_us = np.unique(rng.integers(0, span_us, n_events + n_events // 10))
    ts_us = np.sort(rng.choice(ts_us, n_events, replace=False))
    out["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_events, dtype="int64"),
            "ts": np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_events).astype("int64"),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), n_words)]))
    out["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype="int64"),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )
    centroids = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    labels = rng.integers(0, 10, n_vecs)
    vecs = 0.6 * centroids[labels] + rng.normal(0.0, 1.0, (n_vecs, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    out["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_vecs, dtype="int64"),
            "embedding": list(vecs),
            "label": labels.astype("int32"),
        }
    )
    return out


def write(out_dir: str, sf: float) -> None:
    """Write every table under ``out_dir`` atomically: tables go to a
    sibling temp directory that is renamed into place when complete."""
    if os.path.isdir(out_dir):
        return
    tmp = f"{out_dir}.tmp{os.getpid()}"
    os.makedirs(tmp)
    for name, df in tables(sf).items():
        if name == "embeddings":
            table = pa.Table.from_pandas(
                df,
                schema=pa.schema(
                    [
                        ("vec_id", pa.int64()),
                        ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32()),
                    ]
                ),
                preserve_index=False,
            )
        else:
            table = pa.Table.from_pandas(df, preserve_index=False)
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.rename(tmp, out_dir)


if __name__ == "__main__":
    write(sys.argv[1], float(sys.argv[2]))
