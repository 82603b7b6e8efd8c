"""Distributed global ordering without a single-partition window.

``row_number() OVER (ORDER BY ...)`` with no PARTITION BY forces every
row through ONE task — the classic global-order bottleneck (Spark even
warns: "No Partition Defined for Window operation"). The scale-true
equivalent is the two-pass rank every distributed sort uses:

1. range-partition by the order columns (Spark samples boundaries) and
   sort within partitions — globally ordered across partition ids;
2. assign per-partition local indexes, collect the per-partition row
   COUNTS (one tiny row per partition — a planning-sized driver action,
   not a data collect), and add cumulative offsets back via a broadcast
   join.

Every data-sized step is distributed: the only serial work is the
cumulative sum over ≤ num_partitions counters.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def distributed_row_number(
    df: DataFrame,
    order_by: list[Column],
    col_name: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """Global 1-based ``row_number`` over ``order_by`` computed with
    range partitioning + per-partition offsets — identical output to
    ``F.row_number().over(Window.orderBy(*order_by))`` (pinned by
    tests/test_ranking.py) without ever funneling the data through one
    task.

    ``order_by`` must be a TOTAL order (include a unique tiebreak
    column): the range partitioner may split equal keys across
    partition boundaries, so ties would otherwise rank
    nondeterministically — the same reason the single-partition window
    needs a tiebreak for a stable hash.

    Determinism under recompute: local indexes come from
    ``monotonically_increasing_id`` evaluated AFTER an explicit
    ``sortWithinPartitions``, so a shuffle-fetch-retry regenerates the
    same (partition, index) pairs — position is pinned by the sort,
    unlike id-assignment over unordered input (the SPARK-23207 class of
    hazard the salted operators also guard against).
    """
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    ordered = df.repartitionByRange(n, *order_by).sortWithinPartitions(
        *order_by
    )
    # Left cached after return (the cache rule in ``queries/__init__``):
    # the returned DataFrame reads this frame lazily AND the offsets
    # below were computed from exactly this materialization —
    # unpersisting before the caller's action would recompute ids
    # against a plan the offsets no longer match.
    with_idx = ordered.select(
        "*",
        F.spark_partition_id().alias("__pid"),
        F.monotonically_increasing_id().alias("__mid"),
    ).persist()
    # One row per partition: (pid, count, min id). Bounded by the
    # partition count — a planning-sized action, like the IVF probe-id
    # collect (similarity.py), not a data collect.
    parts = (
        with_idx.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("__cnt"), F.min("__mid").alias("__mn"))
        .orderBy("__pid")
        .collect()
    )
    offsets, acc = [], 0
    for r in parts:
        offsets.append((r["__pid"], acc, r["__mn"]))
        acc += r["__cnt"]
    from olist_lakehouse_2_0_spark.localrel import arrow_local_relation

    off_df = arrow_local_relation(
        spark, offsets or [(0, 0, 0)], "__pid int, __off long, __mn long"
    )
    if not offsets:
        off_df = off_df.filter(F.lit(False))
    out = (
        with_idx.join(F.broadcast(off_df), "__pid")
        .withColumn(
            col_name,
            (F.col("__off") + (F.col("__mid") - F.col("__mn")) + 1).cast(
                "long"
            ),
        )
        .drop("__pid", "__mid", "__off", "__mn")
    )
    return out
