"""Measured comparison: salted operators vs AQE on actual key skew
(VERDICT r4 next-step #5 — "today salting is proven result-invisible
but not proven beneficial").

Fixture: lineitem at $SPARK_GRAFT_SF_DIR (default sf0.1) replicated
16x (~9.6M rows), with ONE hot key holding ~20% of all rows (every row
whose xxhash64 % 5 == 0 is remapped to key 1; the rest keep their
l_orderkey). The dimension side is one row per distinct key (~150k
rows). Broadcast is disabled for the join variants — the scenario
being emulated is a 100 TB fact joining a dimension too large to
broadcast, where the only plans available are shuffle joins. The AQE
skew-split thresholds are lowered proportionally to the fixture size
(the defaults target 256 MB partitions; the hot partition here is
~200 MB of rows but local-mode task sizes are smaller) so AQE's
splitter actually engages — i.e. AQE is shown at its BEST.

Variants (each timed best-of-3, full materialization via noop write):

  join_plain_noaqe   sort-merge join, AQE off            (the pain)
  join_plain_aqe     sort-merge join, AQE skew-split on
  join_salted        salted_join(salt=32), AQE on
  agg_plain          groupBy(key).agg(sum,count,max), AQE on
  agg_salted         salted_agg(salt=32), AQE on

Prints one JSON line; paste the table into BASELINE.md.

Usage: python scripts/bench_skew.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from olist_lakehouse_2_0_spark import get_spark  # noqa: E402
from olist_lakehouse_2_0_spark.operators.joins import (  # noqa: E402
    salted_agg,
    salted_join,
)

REPLICAS = 16
HOT_FRACTION_MOD = 5
SALT = 32


def build_fixture(spark, sf_dir: str):
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).select(
        "l_orderkey", "l_extendedprice", "l_discount", "l_quantity"
    )
    fact = (
        li.withColumn("__r", F.explode(F.array(*[F.lit(i) for i in range(REPLICAS)])))
        .withColumn(
            "key",
            F.when(
                F.pmod(
                    F.xxhash64("l_orderkey", "l_quantity", "__r"),
                    F.lit(HOT_FRACTION_MOD),
                )
                == 0,
                F.lit(1),
            ).otherwise(F.col("l_orderkey")),
        )
        .select("key", "l_extendedprice", "l_discount", "l_quantity", "__r")
    )
    dim = (
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        .select(F.col("o_orderkey").alias("key"), "o_orderpriority")
        .distinct()
    )
    # Materialize both once so every variant reads identical parquet
    # (no lineage or cache interplay between timings).
    fact_path = "/tmp/skew_bench_fact"
    dim_path = "/tmp/skew_bench_dim"
    fact.write.mode("overwrite").parquet(fact_path)
    dim.write.mode("overwrite").parquet(dim_path)
    return fact_path, dim_path


def timed(spark, fn, runs: int = 3) -> float:
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        fn().write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(
        app_name="skew-bench",
        extra_conf={
            # Emulate a dimension too large to broadcast at 100 TB.
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
            # Engage AQE's splitter at this fixture's partition sizes.
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8m",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
        },
    )
    fact_path, dim_path = build_fixture(spark, sf_dir)
    fact = spark.read.parquet(fact_path)
    dim = spark.read.parquet(dim_path)

    results: dict[str, float] = {}

    def plain_join():
        return fact.join(dim, "key").groupBy("o_orderpriority").agg(
            F.sum("l_extendedprice").alias("rev"),
            F.count(F.lit(1)).alias("n"),
        )

    def salted():
        return (
            salted_join(fact, dim, "key", salt=SALT)
            .groupBy("o_orderpriority")
            .agg(
                F.sum("l_extendedprice").alias("rev"),
                F.count(F.lit(1)).alias("n"),
            )
        )

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    results["join_plain_noaqe"] = timed(spark, plain_join)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    results["join_plain_aqe"] = timed(spark, plain_join)
    results["join_salted_aqe"] = timed(spark, salted)

    metrics = {
        "rev": ("sum", F.col("l_extendedprice")),
        "n": ("count", F.lit(1)),
        "max_q": ("max", F.col("l_quantity")),
    }

    def agg_plain():
        return fact.groupBy("key").agg(
            F.sum("l_extendedprice").alias("rev"),
            F.count(F.lit(1)).alias("n"),
            F.max("l_quantity").alias("max_q"),
        )

    results["agg_plain_aqe"] = timed(spark, agg_plain)
    results["agg_salted_aqe"] = timed(
        spark, lambda: salted_agg(fact, ["key"], metrics, salt=SALT)
    )

    n_rows = fact.count()
    hot = fact.filter(F.col("key") == 1).count()
    print(
        json.dumps(
            {
                "fixture_rows": n_rows,
                "hot_key_rows": hot,
                "hot_fraction": round(hot / n_rows, 4),
                "timings_sec_best_of_3": results,
            }
        )
    )


if __name__ == "__main__":
    main()
