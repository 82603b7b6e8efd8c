"""Window-frame and ranking analytics beyond the reference's two LAGs.

The reference's only window functions are LAG over a global order and
LAG over a partition (SURVEY.md §2.5, reference
src/pipelines/gold/monthly_orders.sql:48-49 and
gold/category_performance.sql:49) — no frame specs and no ranking
family. A complete engine needs both, so this module adds:

- ``daily_revenue_trend`` — ROWS BETWEEN frames: 7-day moving
  average / moving max and a running (unbounded-preceding) total.
- ``segment_spend_ranks`` — the ranking family: rank, dense_rank,
  ntile, percent_rank, cume_dist over a deterministic total order.
- ``parts_above_brand_avg`` — the correlated-subquery shape
  ("rows above their group average") expressed as a partition window,
  one shuffle instead of a self-join.

Scale notes (100 TB design):
- ``daily_revenue_trend`` windows run AFTER the groupBy collapses the
  fact table to one row per day: the window input is #days rows
  (thousands), so the unpartitioned global-order window is a
  deliberately tiny single task, not a bottleneck. The expensive part
  — the daily aggregate — is a normal partial-agg shuffle.
- ``segment_spend_ranks`` partitions its window by market segment
  (low cardinality). The per-customer spend aggregate shuffles by
  custkey first, collapsing to one row per customer; only that
  collapsed set re-shuffles into the 5 segment partitions. At extreme
  scale a two-phase top-k (per-partition prune, then merge) would
  bound the per-segment sort; rank≤100 keeps the output constant-size.
- ``parts_above_brand_avg`` uses AVG OVER (PARTITION BY brand) so the
  "compare to group average" semantics costs exactly one shuffle by
  brand — no broadcast-back join, no second scan of part.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from olist_lakehouse_2_0_spark.catalog import load
from olist_lakehouse_2_0_spark.queries.relational import MONEY, MONEY_SUM, RATE


# ---------------------------------------------------------------------------
# ROWS BETWEEN frames: moving average / moving max / running total.
# ---------------------------------------------------------------------------
def daily_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily revenue with a 7-day moving average, 7-day moving max and
    a running cumulative total (ROWS BETWEEN frame specs)."""
    orders = load(spark, sf_dir, "orders")
    daily = (
        orders.filter(F.col("o_orderdate").isNotNull())
        .groupBy(F.col("o_orderdate").cast("date").alias("order_date"))
        .agg(
            F.sum(F.col("o_totalprice").cast(MONEY))
            .cast(MONEY_SUM)
            .alias("day_revenue"),
            F.count(F.lit(1)).alias("day_orders"),
        )
    )
    w7 = W.orderBy("order_date").rowsBetween(-6, 0)
    wrun = W.orderBy("order_date").rowsBetween(W.unboundedPreceding, 0)
    return daily.select(
        "order_date",
        "day_revenue",
        "day_orders",
        F.round(F.avg(F.col("day_revenue").cast("double")).over(w7), 2)
        .cast(RATE)
        .alias("ma7_revenue"),
        F.max("day_revenue").over(w7).alias("max7_revenue"),
        F.sum("day_revenue").over(wrun).cast(MONEY_SUM).alias("cum_revenue"),
    )


DAILY_REVENUE_TREND_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS order_date,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2))
           AS day_revenue,
         COUNT(*) AS day_orders
  FROM orders
  WHERE o_orderdate IS NOT NULL
  GROUP BY 1
)
SELECT order_date,
       day_revenue,
       day_orders,
       CAST(ROUND(AVG(CAST(day_revenue AS DOUBLE)) OVER
              (ORDER BY order_date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
            2) AS DECIMAL(10,2)) AS ma7_revenue,
       MAX(day_revenue) OVER
         (ORDER BY order_date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         AS max7_revenue,
       CAST(SUM(day_revenue) OVER
              (ORDER BY order_date
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DECIMAL(18,2)) AS cum_revenue
FROM daily
"""


# ---------------------------------------------------------------------------
# Ranking family: rank / dense_rank / ntile / percent_rank / cume_dist.
# ---------------------------------------------------------------------------
def segment_spend_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 customers per market segment by lifetime spend, with the
    full ranking family over a deterministic (spend DESC, custkey)
    total order — ties broken by key so every rank function hashes
    identically across engines."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast(MONEY)).cast(MONEY_SUM).alias("spend")
    )
    joined = spend.join(
        customer.select("c_custkey", "c_mktsegment"),
        spend.o_custkey == customer.c_custkey,
        "inner",
    )
    w = W.partitionBy("c_mktsegment").orderBy(
        F.desc("spend"), F.asc("o_custkey")
    )
    return (
        joined.select(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_custkey").alias("customer_key"),
            "spend",
            F.rank().over(w).cast("long").alias("spend_rank"),
            F.dense_rank().over(w).cast("long").alias("spend_dense_rank"),
            F.ntile(4).over(w).alias("spend_quartile"),
            F.round(F.percent_rank().over(w), 6).alias("spend_pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("spend_cume_dist"),
        )
        .filter(F.col("spend_rank") <= 100)
    )


SEGMENT_SPEND_RANKS_SQL = """
WITH spend AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2))
           AS spend
  FROM orders
  GROUP BY o_custkey
), ranked AS (
  SELECT c.c_mktsegment AS segment,
         s.o_custkey AS customer_key,
         s.spend,
         RANK() OVER w AS spend_rank,
         DENSE_RANK() OVER w AS spend_dense_rank,
         CAST(NTILE(4) OVER w AS INT) AS spend_quartile,
         ROUND(PERCENT_RANK() OVER w, 6) AS spend_pct_rank,
         ROUND(CUME_DIST() OVER w, 6) AS spend_cume_dist
  FROM spend s
  JOIN customer c ON s.o_custkey = c.c_custkey
  WINDOW w AS (PARTITION BY c.c_mktsegment
               ORDER BY s.spend DESC, s.o_custkey ASC)
)
SELECT * FROM ranked WHERE spend_rank <= 100
"""


# ---------------------------------------------------------------------------
# Correlated-subquery shape: rows above their group average, via a
# partition window (one shuffle, no self-join).
# ---------------------------------------------------------------------------
def parts_above_brand_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per brand: how many parts are priced above the brand's average
    retail price, and the average premium of those parts. The classic
    TPC-H Q17-style correlated subquery, expressed as AVG OVER
    (PARTITION BY brand) so it costs one shuffle."""
    part = load(spark, sf_dir, "part")
    brand_avg = F.avg(F.col("p_retailprice").cast("double")).over(
        W.partitionBy("p_brand")
    )
    flagged = part.select(
        "p_brand",
        "p_retailprice",
        brand_avg.alias("brand_avg_price"),
    ).filter(F.col("p_retailprice").cast("double") > F.col("brand_avg_price"))
    return flagged.groupBy(F.col("p_brand").alias("brand")).agg(
        F.count(F.lit(1)).alias("n_above_avg"),
        F.round(
            F.avg(
                F.col("p_retailprice").cast("double")
                - F.col("brand_avg_price")
            ),
            2,
        )
        .cast(RATE)
        .alias("avg_premium"),
        F.max(F.col("p_retailprice").cast(MONEY)).alias("max_price"),
    )


PARTS_ABOVE_BRAND_AVG_SQL = """
WITH flagged AS (
  SELECT p_brand,
         p_retailprice,
         AVG(CAST(p_retailprice AS DOUBLE)) OVER (PARTITION BY p_brand)
           AS brand_avg_price
  FROM part
)
SELECT p_brand AS brand,
       COUNT(*) AS n_above_avg,
       CAST(ROUND(AVG(CAST(p_retailprice AS DOUBLE) - brand_avg_price), 2)
            AS DECIMAL(10,2)) AS avg_premium,
       MAX(CAST(p_retailprice AS DECIMAL(12,2))) AS max_price
FROM flagged
WHERE CAST(p_retailprice AS DOUBLE) > brand_avg_price
GROUP BY p_brand
"""


# ---------------------------------------------------------------------------
# Time-series gap filling: dense calendar spine with zero-filled days.
# ---------------------------------------------------------------------------
def daily_orders_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily order series densified over the full calendar range: days
    with no orders appear with zero counts and an ``is_gap`` flag — the
    hypertable-rollup/gap-fill shape time-series stores provide.

    The calendar spine is generated from the aggregated series' own
    min/max (one tiny 1-row aggregate, sequence-exploded to #days
    rows), so no fact-scale data feeds the spine; the spine LEFT-joins
    the per-day aggregate."""
    orders = load(spark, sf_dir, "orders")
    daily = (
        orders.filter(F.col("o_orderdate").isNotNull())
        .groupBy(F.col("o_orderdate").cast("date").alias("order_date"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(MONEY))
            .cast(MONEY_SUM)
            .alias("revenue"),
        )
    )
    spine = daily.agg(
        F.min("order_date").alias("d0"), F.max("order_date").alias("d1")
    ).select(
        F.explode(
            F.sequence(F.col("d0"), F.col("d1"), F.expr("interval 1 day"))
        ).alias("order_date")
    )
    return spine.join(daily, "order_date", "left").select(
        "order_date",
        F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
        F.coalesce(F.col("revenue"), F.lit(0).cast(MONEY_SUM)).alias("revenue"),
        F.col("n_orders").isNull().alias("is_gap"),
    )


DAILY_ORDERS_GAPFILL_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS order_date,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2))
           AS revenue
  FROM orders
  WHERE o_orderdate IS NOT NULL
  GROUP BY 1
), spine AS (
  SELECT UNNEST(generate_series(
           (SELECT MIN(order_date) FROM daily),
           (SELECT MAX(order_date) FROM daily),
           INTERVAL 1 DAY))::DATE AS order_date
)
SELECT s.order_date,
       COALESCE(d.n_orders, 0) AS n_orders,
       COALESCE(d.revenue, CAST(0 AS DECIMAL(18,2))) AS revenue,
       d.n_orders IS NULL AS is_gap
FROM spine s LEFT JOIN daily d USING (order_date)
"""


WINDOW_ANALYTICS_QUERIES = {
    "daily_revenue_trend": daily_revenue_trend,
    "segment_spend_ranks": segment_spend_ranks,
    "parts_above_brand_avg": parts_above_brand_avg,
    "daily_orders_gapfill": daily_orders_gapfill,
}

WINDOW_ANALYTICS_ORACLES = {
    "daily_revenue_trend": DAILY_REVENUE_TREND_SQL,
    "segment_spend_ranks": SEGMENT_SPEND_RANKS_SQL,
    "parts_above_brand_avg": PARTS_ABOVE_BRAND_AVG_SQL,
    "daily_orders_gapfill": DAILY_ORDERS_GAPFILL_SQL,
}
