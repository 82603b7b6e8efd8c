"""Relational query library: the reference's silver/gold query shapes
re-expressed over the driver's TPC-H-ish testdata.

Each function maps one or more operators from SURVEY.md §2 (reference
citations inline) onto the testdata tables (TESTDATA.md). Each has a
DuckDB oracle twin in :data:`RELATIONAL_ORACLES` with identical column
names and value semantics, so the driver can hash-compare results.

Scale notes (100 TB design):
- Aggregations are declared with ``groupBy().agg()`` — Spark performs
  partial (map-side) aggregation before the shuffle automatically.
- Dimension tables (region/nation/supplier/part/customer) are joined
  with ``F.broadcast`` where they are orders-of-magnitude smaller than
  the fact side; the fact tables (orders/lineitem) never broadcast.
- Money aggregates cast to DECIMAL before summing: exact, overflow-safe
  and order-independent — double sums drift at 1000-way parallelism.
- No ``collect()``/driver loops anywhere; every query is one lazy plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from olist_lakehouse_2_0_spark.catalog import _fs, load
from olist_lakehouse_2_0_spark.fixedpoint import ratio

MONEY = "decimal(12,2)"  # input cast for exact money arithmetic
MONEY_SUM = "decimal(18,2)"  # output type for money sums
RATE = "decimal(10,2)"  # percentages
AVG6 = "decimal(18,6)"  # quantized averages (stable across engines)


def _money_sum(col, alias: str):
    """Exact decimal sum of a money column (SURVEY §7.4: decimal drift)."""
    return F.sum(F.col(col).cast(MONEY)).cast(MONEY_SUM).alias(alias)


# ---------------------------------------------------------------------------
# gold/daily_orders.sql shape — A1 count, A2 conditional count, A3 distinct,
# A5 sum, A6 avg, A10 ratio+NULLIF, P4 filter. (reference
# src/pipelines/gold/daily_orders.sql:20-66)
# ---------------------------------------------------------------------------
def daily_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders", spread=True)
    finished = F.count(F.when(F.col("o_orderstatus") == "F", 1))
    return (
        orders.filter(F.col("o_orderdate").isNotNull())
        .withColumn("order_date", F.col("o_orderdate").cast("date"))
        .groupBy("order_date")
        .agg(
            F.count(F.lit(1)).alias("total_orders"),
            finished.alias("finished_orders"),
            F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("open_orders"),
            F.count(
                F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
            ).alias("urgent_orders"),
            F.countDistinct("o_custkey").alias("unique_customers"),
            _money_sum("o_totalprice", "total_revenue"),
            F.round(
                finished * 100.0 / F.nullif(F.count(F.lit(1)), F.lit(0)), 2
            )
            .cast(RATE)
            .alias("finished_rate_pct"),
        )
        .withColumn(
            "avg_order_value",
            ratio("cast(total_revenue * 100 as bigint)", "total_orders", 10000)
            .cast("double")
            / F.lit(1e6),
        )
        .select(
            "order_date", "total_orders", "finished_orders", "open_orders",
            "urgent_orders", "unique_customers", "total_revenue",
            "avg_order_value", "finished_rate_pct",
        )
    )


DAILY_ORDERS_SQL = """
SELECT CAST(o_orderdate AS DATE) AS order_date,
       COUNT(*) AS total_orders,
       COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS finished_orders,
       COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS open_orders,
       COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 END) AS urgent_orders,
       COUNT(DISTINCT o_custkey) AS unique_customers,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS total_revenue,
       CAST((2 * CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) * 10000
             + COUNT(*)) // NULLIF(2 * COUNT(*), 0) AS DOUBLE) / 1e6
           AS avg_order_value,
       CAST(ROUND(COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) * 100.0
                  / NULLIF(COUNT(*), 0), 2) AS DECIMAL(10,2)) AS finished_rate_pct
FROM orders
WHERE o_orderdate IS NOT NULL
GROUP BY CAST(o_orderdate AS DATE)
"""


# ---------------------------------------------------------------------------
# gold/monthly_orders.sql shape — W1 LAG over global month order on top of
# grouped rows. (reference src/pipelines/gold/monthly_orders.sql:20-56)
# ---------------------------------------------------------------------------
def monthly_orders_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders", spread=True)
    monthly = (
        orders.withColumn(
            "order_month", F.date_trunc("month", F.col("o_orderdate")).cast("date")
        )
        .groupBy("order_month")
        .agg(
            F.count(F.lit(1)).alias("total_orders"),
            _money_sum("o_totalprice", "total_revenue"),
        )
    )
    # The global (unpartitioned) LAG runs on ~tens-of-rows post-aggregate
    # output: a single-partition window here is fine at any input scale
    # because the groupBy has already collapsed the data.
    w = W.orderBy("order_month")
    prev_rev = F.lag("total_revenue").over(w)
    return monthly.select(
        "order_month",
        "total_orders",
        "total_revenue",
        prev_rev.alias("prev_month_revenue"),
        F.lag("total_orders").over(w).alias("prev_month_orders"),
        F.round(
            (F.col("total_revenue") - prev_rev) * 100.0 / F.nullif(prev_rev, F.lit(0)),
            2,
        )
        .cast(RATE)
        .alias("revenue_growth_pct"),
    )


MONTHLY_ORDERS_LAG_SQL = """
WITH monthly AS (
  SELECT CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS order_month,
         COUNT(*) AS total_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS total_revenue
  FROM orders
  GROUP BY 1
)
SELECT order_month, total_orders, total_revenue,
       LAG(total_revenue) OVER (ORDER BY order_month) AS prev_month_revenue,
       LAG(total_orders) OVER (ORDER BY order_month) AS prev_month_orders,
       CAST(ROUND((total_revenue - LAG(total_revenue) OVER (ORDER BY order_month)) * 100.0
                  / NULLIF(LAG(total_revenue) OVER (ORDER BY order_month), 0), 2)
            AS DECIMAL(10,2)) AS revenue_growth_pct
FROM monthly
"""


# ---------------------------------------------------------------------------
# gold/orders_by_state.sql shape — J2 inner join to customers, J3 left join
# to per-order totals CTE, partial region CASE map with 'Other' fallback.
# (reference src/pipelines/gold/orders_by_state.sql:20-85)
# ---------------------------------------------------------------------------
def orders_by_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    lineitem = load(spark, sf_dir, "lineitem")

    # J3: per-order item totals, pre-aggregated at order grain before the
    # join (reference gold/orders_by_state.sql:20-26). Shuffles lineitem
    # once on l_orderkey; at scale this is the dominant shuffle and is
    # unavoidable — everything downstream is small.
    order_totals = lineitem.groupBy("l_orderkey").agg(
        F.sum(F.col("l_extendedprice").cast(MONEY)).alias("order_item_total"),
        F.count(F.lit(1)).alias("item_count"),
    )

    # Partial region map with 'Other' fallback — mirrors the gold-layer
    # CASE that deliberately omits some regions (SURVEY §7.4).
    region_group = (
        F.when(F.col("r_name").isin("AMERICA", "EUROPE"), F.lit("Atlantic"))
        .when(F.col("r_name") == "ASIA", F.lit("Asia"))
        .otherwise(F.lit("Other"))
    )

    # Dimensions (customer/nation/region) broadcast: at 100 TB the fact
    # side is orders, dims stay MB-scale.
    dims = customer.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")).join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    joined = (
        orders.join(dims, F.col("o_custkey") == F.col("c_custkey"), "inner")
        .join(order_totals, F.col("o_orderkey") == F.col("l_orderkey"), "left")
        .withColumn("region_group", region_group)
    )
    # avg_order_item_value in exact integer cents (see fixedpoint).
    cents = F.sum((F.col("order_item_total") * 100).cast("long"))
    cnt = F.count("order_item_total")
    return (
        joined.groupBy(F.col("n_name").alias("nation"), F.col("region_group"))
        .agg(
            F.count(F.lit(1)).alias("total_orders"),
            F.countDistinct("o_custkey").alias("unique_customers"),
            F.sum("order_item_total").cast(MONEY_SUM).alias("total_item_revenue"),
            cents.alias("__cents"),
            cnt.alias("__cnt"),
            F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias(
                "finished_orders"
            ),
            F.sum("item_count").alias("total_items"),
        )
        .withColumn(
            "avg_order_item_value",
            ratio("__cents", "__cnt", 10000).cast("double") / F.lit(1e6),
        )
        .select(
            "nation",
            "region_group",
            "total_orders",
            "unique_customers",
            "total_item_revenue",
            "avg_order_item_value",
            "finished_orders",
            "total_items",
        )
    )


ORDERS_BY_STATE_SQL = """
WITH order_totals AS (
  SELECT l_orderkey,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS order_item_total,
         COUNT(*) AS item_count
  FROM lineitem
  GROUP BY l_orderkey
)
SELECT n_name AS nation,
       CASE WHEN r_name IN ('AMERICA', 'EUROPE') THEN 'Atlantic'
            WHEN r_name = 'ASIA' THEN 'Asia'
            ELSE 'Other' END AS region_group,
       COUNT(*) AS total_orders,
       COUNT(DISTINCT o_custkey) AS unique_customers,
       CAST(SUM(order_item_total) AS DECIMAL(18,2)) AS total_item_revenue,
       CAST((CAST(SUM(CAST(order_item_total * 100 AS BIGINT)) AS BIGINT)
               // NULLIF(COUNT(order_item_total), 0)) * 10000
            + (2 * (CAST(SUM(CAST(order_item_total * 100 AS BIGINT)) AS BIGINT)
                      % NULLIF(COUNT(order_item_total), 0)) * 10000
               + COUNT(order_item_total))
              // NULLIF(2 * COUNT(order_item_total), 0) AS DOUBLE) / 1e6
           AS avg_order_item_value,
       COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS finished_orders,
       CAST(SUM(item_count) AS BIGINT) AS total_items
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
LEFT JOIN order_totals ON o_orderkey = l_orderkey
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# silver/orders_enriched.sql shape — J1: fact LEFT JOINed to three
# pre-aggregated subqueries at order grain; A8 COLLECT_SET (sorted for
# determinism); A11 pre-aggregation CTEs; derived boolean flags.
# (reference src/pipelines/silver/orders_enriched.sql:15-102)
# ---------------------------------------------------------------------------
def orders_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders", spread=True)
    lineitem = load(spark, sf_dir, "lineitem", spread=True)

    # The reference keeps items/shipping/flags as three separate
    # subqueries; here all three share the l_orderkey grain so they fuse
    # into ONE groupBy.agg — one shuffle of the fact table, no cache.
    # (Round-1 shape repartition().persist()'d the full fact side to
    # dodge duplicate exchanges; at 100 TB that caches the largest table
    # in the warehouse. The fused aggregate needs neither.)
    # return_flags is emitted as a sorted comma-joined STRING (not an
    # array) so the driver's pandas canonicalizer can sort/hash it.
    per_order = lineitem.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("item_count"),
        F.countDistinct("l_partkey").alias("distinct_parts"),
        F.sum(F.col("l_extendedprice").cast(MONEY)).cast(MONEY_SUM).alias("items_total"),
        F.min(F.date_trunc("day", F.col("l_shipdate"))).alias("first_ship_date"),
        F.max(F.date_trunc("day", F.col("l_shipdate"))).alias("last_ship_date"),
        F.concat_ws(",", F.array_sort(F.collect_set("l_returnflag"))).alias(
            "return_flags"
        ),
        F.max("l_linestatus").alias("max_linestatus"),
    )

    enriched = orders.join(
        per_order, F.col("o_orderkey") == per_order["l_orderkey"], "left"
    ).drop(per_order["l_orderkey"])
    return enriched.select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_custkey").alias("customer_id"),
        F.col("o_orderstatus").alias("order_status"),
        F.date_trunc("day", F.col("o_orderdate")).alias("order_date"),
        F.coalesce(F.col("item_count"), F.lit(0)).alias("item_count"),
        F.coalesce(F.col("distinct_parts"), F.lit(0)).alias("distinct_parts"),
        F.coalesce(F.col("items_total"), F.lit(0).cast(MONEY_SUM)).alias("items_total"),
        "first_ship_date",
        "last_ship_date",
        "return_flags",
        "max_linestatus",
        (F.col("o_orderstatus") == "F").alias("is_finished"),
        F.coalesce(
            F.col("return_flags").contains("R"), F.lit(False)
        ).alias("has_returns"),
    )


ORDERS_ENRICHED_SQL = """
WITH per_order AS (
  SELECT l_orderkey,
         COUNT(*) AS item_count,
         COUNT(DISTINCT l_partkey) AS distinct_parts,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS items_total,
         MIN(DATE_TRUNC('day', l_shipdate)) AS first_ship_date,
         MAX(DATE_TRUNC('day', l_shipdate)) AS last_ship_date,
         ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(LIST(l_returnflag))), ',') AS return_flags,
         MAX(l_linestatus) AS max_linestatus
  FROM lineitem GROUP BY l_orderkey
)
SELECT o_orderkey AS order_id,
       o_custkey AS customer_id,
       o_orderstatus AS order_status,
       DATE_TRUNC('day', o_orderdate) AS order_date,
       COALESCE(item_count, 0) AS item_count,
       COALESCE(distinct_parts, 0) AS distinct_parts,
       CAST(COALESCE(items_total, 0) AS DOUBLE) AS items_total,
       first_ship_date,
       last_ship_date,
       return_flags,
       max_linestatus,
       o_orderstatus = 'F' AS is_finished,
       COALESCE(CONTAINS(return_flags, 'R'), FALSE) AS has_returns
FROM orders
LEFT JOIN per_order ON o_orderkey = per_order.l_orderkey
"""


# ---------------------------------------------------------------------------
# gold/seller_performance.sql shape — J5: fact ⋈ orders ⋈ supplier with a
# broadcast dimension; ratio-of-aggregates metrics.
# (reference src/pipelines/gold/seller_performance.sql:20-58)
# ---------------------------------------------------------------------------
def seller_performance(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load(spark, sf_dir, "lineitem", spread=True)
    orders = load(spark, sf_dir, "orders", spread=True)
    supplier = load(spark, sf_dir, "supplier")

    joined = lineitem.join(
        orders.select("o_orderkey", "o_custkey", "o_orderstatus"),
        F.col("l_orderkey") == F.col("o_orderkey"),
        "inner",
    ).join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"), "inner")

    total_rev = F.sum(F.col("l_extendedprice").cast(MONEY))
    n_orders = F.countDistinct("l_orderkey")
    # Averages in exact integer cents (see fixedpoint).
    return (
        joined.groupBy(F.col("s_name").alias("seller_name"))
        .agg(
            n_orders.alias("total_orders"),
            F.count(F.lit(1)).alias("total_items_sold"),
            F.countDistinct("l_partkey").alias("distinct_products"),
            F.countDistinct("o_custkey").alias("distinct_customers"),
            total_rev.cast(MONEY_SUM).alias("total_revenue"),
            F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias(
                "finished_items"
            ),
        )
        .withColumn("__cents", (F.col("total_revenue") * 100).cast("long"))
        .withColumn(
            "avg_order_revenue",
            ratio("__cents", "total_orders", 10000).cast("double") / F.lit(1e6),
        )
        .withColumn(
            "avg_item_price",
            ratio("__cents", "total_items_sold", 10000).cast("double")
            / F.lit(1e6),
        )
        .select(
            "seller_name",
            "total_orders",
            "total_items_sold",
            "distinct_products",
            "distinct_customers",
            "total_revenue",
            "avg_order_revenue",
            "avg_item_price",
            "finished_items",
        )
    )


SELLER_PERFORMANCE_SQL = """
SELECT s_name AS seller_name,
       COUNT(DISTINCT l_orderkey) AS total_orders,
       COUNT(*) AS total_items_sold,
       COUNT(DISTINCT l_partkey) AS distinct_products,
       COUNT(DISTINCT o_custkey) AS distinct_customers,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS total_revenue,
       CAST((2 * CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) * 100 AS BIGINT) * 10000
             + COUNT(DISTINCT l_orderkey))
            // NULLIF(2 * COUNT(DISTINCT l_orderkey), 0) AS DOUBLE) / 1e6
           AS avg_order_revenue,
       CAST((2 * CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) * 100 AS BIGINT) * 10000
             + COUNT(*))
            // NULLIF(2 * COUNT(*), 0) AS DOUBLE) / 1e6 AS avg_item_price,
       COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS finished_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_name
"""


# ---------------------------------------------------------------------------
# gold/category_performance.sql shape — J6: fact ⋈ orders ⟕ part (category
# dim), COALESCE'd category, W2 LAG partitioned by category.
# (reference src/pipelines/gold/category_performance.sql:20-61)
# ---------------------------------------------------------------------------
def category_performance_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    part = load(spark, sf_dir, "part")

    monthly = (
        lineitem.join(
            orders.select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "inner",
        )
        .join(
            F.broadcast(part.select("p_partkey", "p_type")),
            F.col("l_partkey") == F.col("p_partkey"),
            "left",
        )
        .select(
            F.coalesce(F.col("p_type"), F.lit("unknown")).alias("category"),
            F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("order_month"),
            "l_orderkey",
            "l_extendedprice",
        )
        # Shuffle once on category alone: hash(category) co-locates
        # every (category, order_month) group AND satisfies the LAG
        # window's PARTITION BY category below — without this the plan
        # shuffles twice (once for the groupBy keys, once for the
        # window partitioning).
        .repartition(F.col("category"))
        .groupBy("category", "order_month")
        .agg(
            F.countDistinct("l_orderkey").alias("orders"),
            F.count(F.lit(1)).alias("items"),
            _money_sum("l_extendedprice", "gmv"),
        )
    )
    w = W.partitionBy("category").orderBy("order_month")
    prev = F.lag("gmv").over(w)
    return monthly.select(
        "category",
        "order_month",
        "orders",
        "items",
        "gmv",
        prev.alias("prev_month_gmv"),
        F.round((F.col("gmv") - prev) * 100.0 / F.nullif(prev, F.lit(0)), 2)
        .cast(RATE)
        .alias("gmv_growth_pct"),
    )


CATEGORY_PERFORMANCE_LAG_SQL = """
WITH monthly AS (
  SELECT COALESCE(p_type, 'unknown') AS category,
         CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS order_month,
         COUNT(DISTINCT l_orderkey) AS orders,
         COUNT(*) AS items,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS gmv
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  LEFT JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2
)
SELECT category, order_month, orders, items, gmv,
       LAG(gmv) OVER (PARTITION BY category ORDER BY order_month) AS prev_month_gmv,
       CAST(ROUND((gmv - LAG(gmv) OVER (PARTITION BY category ORDER BY order_month)) * 100.0
                  / NULLIF(LAG(gmv) OVER (PARTITION BY category ORDER BY order_month), 0), 2)
            AS DECIMAL(10,2)) AS gmv_growth_pct
FROM monthly
"""


# ---------------------------------------------------------------------------
# silver/geolocation.sql shape — A9: group-by dedup + averaging with key
# normalization. (reference src/pipelines/silver/geolocation.sql:15-32)
# ---------------------------------------------------------------------------
def geo_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    return (
        customer.filter(
            F.col("c_nationkey").isNotNull() & F.col("c_mktsegment").isNotNull()
        )
        .groupBy(
            F.col("c_nationkey").alias("nation_key"),
            F.upper(F.col("c_mktsegment")).alias("segment"),
        )
        .agg(
            F.round(F.avg("c_acctbal"), 6).cast(AVG6).alias("avg_acctbal"),
            F.min(F.col("c_acctbal").cast(MONEY)).alias("min_acctbal"),
            F.max(F.col("c_acctbal").cast(MONEY)).alias("max_acctbal"),
            F.count(F.lit(1)).alias("sample_count"),
        )
    )


GEO_DEDUP_SQL = """
SELECT c_nationkey AS nation_key,
       UPPER(c_mktsegment) AS segment,
       CAST(ROUND(AVG(c_acctbal), 6) AS DECIMAL(18,6)) AS avg_acctbal,
       MIN(CAST(c_acctbal AS DECIMAL(12,2))) AS min_acctbal,
       MAX(CAST(c_acctbal AS DECIMAL(12,2))) AS max_acctbal,
       COUNT(*) AS sample_count
FROM customer
WHERE c_nationkey IS NOT NULL AND c_mktsegment IS NOT NULL
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# silver cleanse projection — P2 rename/trim, §2.8 scalar function library:
# TRIM/UPPER/LOWER/LENGTH/SUBSTRING/CONCAT(||)/SPLIT_PART/CASE/CAST/
# COALESCE/NULLIF/ROUND/DATEDIFF. (reference src/pipelines/silver/
# customers.sql:29-39, orders.sql:31-55, products.sql:49-73)
# ---------------------------------------------------------------------------
def silver_cleanse(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    return customer.select(
        F.col("c_custkey").alias("customer_id"),
        F.trim(F.col("c_name")).alias("customer_name"),
        F.upper(F.col("c_mktsegment")).alias("segment_upper"),
        F.lower(F.col("c_mktsegment")).alias("segment_lower"),
        F.length(F.col("c_name")).cast("long").alias("name_length"),
        F.substring(F.col("c_name"), 1, 8).alias("name_prefix"),
        F.concat(F.substring(F.col("c_name"), 1, 1), F.lit("***")).alias("masked_name"),
        F.substring_index(F.col("c_name"), "#", -1).alias("customer_number"),
        F.col("c_acctbal").cast(MONEY).alias("account_balance"),
        F.when(F.col("c_acctbal") < 0, "negative")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
        .alias("balance_band"),
        F.coalesce(F.col("c_mktsegment"), F.lit("UNKNOWN")).alias("segment_filled"),
        F.nullif(F.col("c_mktsegment"), F.lit("MACHINERY")).alias("segment_nullified"),
        # floor-quantized to 2 decimals: ROUND hit a half-up/half-even
        # tie (8.495) at sf0.1 — floor(x*0.1+0.5) is the same IEEE op in
        # both engines at every scale.
        (F.floor(F.col("c_acctbal") * 0.1 + 0.5) / 100).alias("balance_k"),
        (F.col("c_nationkey").cast("int") % 5).alias("nation_mod"),
    )


SILVER_CLEANSE_SQL = """
SELECT c_custkey AS customer_id,
       TRIM(c_name) AS customer_name,
       UPPER(c_mktsegment) AS segment_upper,
       LOWER(c_mktsegment) AS segment_lower,
       LENGTH(c_name) AS name_length,
       SUBSTRING(c_name, 1, 8) AS name_prefix,
       SUBSTRING(c_name, 1, 1) || '***' AS masked_name,
       SPLIT_PART(c_name, '#', 2) AS customer_number,
       CAST(c_acctbal AS DECIMAL(12,2)) AS account_balance,
       CASE WHEN c_acctbal < 0 THEN 'negative'
            WHEN c_acctbal < 5000 THEN 'low'
            ELSE 'high' END AS balance_band,
       COALESCE(c_mktsegment, 'UNKNOWN') AS segment_filled,
       NULLIF(c_mktsegment, 'MACHINERY') AS segment_nullified,
       FLOOR(c_acctbal * 0.1 + 0.5) / 100 AS balance_k,
       CAST(c_nationkey AS INT) % 5 AS nation_mod
FROM customer
"""


# ---------------------------------------------------------------------------
# §2.8 completion — the cleansing-library functions silver_cleanse does
# not reach: INITCAP city normalization, REPLACE category normalization,
# sentiment CASE, size bands (functions/cleansing.py; reference
# src/pipelines/silver/customers.sql:29-39, products.sql:30-73,
# order_reviews.sql:41-55).
# ---------------------------------------------------------------------------
def scalar_function_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olist_lakehouse_2_0_spark.functions.cleansing import (
        clean_id,
        normalize_category,
        normalize_city,
        normalize_state,
        sentiment,
        size_category,
    )

    customer = load(spark, sf_dir, "customer")
    return customer.select(
        F.col("c_custkey").alias("customer_id"),
        clean_id("c_name").alias("id_clean"),
        normalize_city("c_mktsegment").alias("city_norm"),
        normalize_state("c_mktsegment").alias("state_norm"),
        normalize_category(
            F.concat(F.col("c_mktsegment"), F.lit("_ext"))
        ).alias("category_norm"),
        sentiment((F.col("c_custkey") % 6).cast("int")).alias(
            "review_sentiment"
        ),
        size_category(F.col("c_acctbal") * 10).alias("size_band"),
    )


SCALAR_FUNCTION_MATRIX_SQL = """
SELECT c_custkey AS customer_id,
       TRIM(c_name) AS id_clean,
       UPPER(SUBSTRING(LOWER(TRIM(c_mktsegment)), 1, 1))
         || SUBSTRING(LOWER(TRIM(c_mktsegment)), 2) AS city_norm,
       UPPER(TRIM(c_mktsegment)) AS state_norm,
       REPLACE(LOWER(TRIM(c_mktsegment || '_ext')), '_', ' ') AS category_norm,
       CASE WHEN c_custkey % 6 >= 4 THEN 'positive'
            WHEN c_custkey % 6 = 3 THEN 'neutral'
            WHEN c_custkey % 6 <= 2 THEN 'negative' END AS review_sentiment,
       CASE WHEN c_acctbal * 10 IS NULL THEN NULL
            WHEN c_acctbal * 10 < 1000 THEN 'small'
            WHEN c_acctbal * 10 < 10000 THEN 'medium'
            WHEN c_acctbal * 10 < 100000 THEN 'large'
            ELSE 'extra_large' END AS size_band
FROM customer
"""


# ---------------------------------------------------------------------------
# §2.8 completion — datetime family: TO_TIMESTAMP format parse
# round-trip, DATE_FORMAT, YEAR/MONTH/DAY extraction, DATEDIFF
# (functions/cleansing.py delivery_days; reference
# src/pipelines/silver/orders.sql:31-61).
# ---------------------------------------------------------------------------
def datetime_function_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olist_lakehouse_2_0_spark.functions.cleansing import delivery_days

    orders = load(spark, sf_dir, "orders")
    ts_str = F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss")
    return orders.select(
        "o_orderkey",
        ts_str.alias("ts_text"),
        F.to_timestamp(ts_str, "yyyy-MM-dd HH:mm:ss").alias("ts_roundtrip"),
        F.year("o_orderdate").cast("long").alias("order_year"),
        F.month("o_orderdate").cast("long").alias("order_month_num"),
        F.dayofmonth("o_orderdate").cast("long").alias("order_day"),
        delivery_days(
            F.to_timestamp(F.lit("1995-01-01 00:00:00")),
            F.col("o_orderdate"),
        ).cast("long").alias("days_since_1995"),
    )


DATETIME_FUNCTION_MATRIX_SQL = """
SELECT o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS ts_text,
       strptime(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'),
                '%Y-%m-%d %H:%M:%S') AS ts_roundtrip,
       CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS order_year,
       CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS order_month_num,
       CAST(EXTRACT(DAY FROM o_orderdate) AS BIGINT) AS order_day,
       CAST(DATE_DIFF('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
            AS BIGINT) AS days_since_1995
FROM orders
"""


# ---------------------------------------------------------------------------
# Top-K per group — beyond the reference's O1/O2 sorts: ranked retrieval
# via row_number window, the pattern AUTO CDC dedup builds on (§2.5 note).
# ---------------------------------------------------------------------------
def top_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    part_rev = (
        lineitem.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
            "inner",
        )
        .groupBy("p_brand", "l_partkey")
        .agg(_money_sum("l_extendedprice", "revenue"))
    )
    w = W.partitionBy("p_brand").orderBy(F.desc("revenue"), F.asc("l_partkey"))
    return (
        part_rev.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("p_brand", F.col("l_partkey").alias("part_id"), "revenue", "rnk")
    )


TOP_PARTS_PER_BRAND_SQL = """
WITH part_rev AS (
  SELECT p_brand, l_partkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS revenue
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2
)
SELECT p_brand, l_partkey AS part_id, revenue, rnk
FROM (
  SELECT p_brand, l_partkey, revenue,
         ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY revenue DESC, l_partkey) AS rnk
  FROM part_rev
)
WHERE rnk <= 3
"""


# ---------------------------------------------------------------------------
# Validity filter — P4/P6/P8 predicate forms: IS NOT NULL, IN, BETWEEN,
# LENGTH(TRIM()), comparison composites. This is the DROP-ROW expectation
# predicate set from silver/orders.sql:10-22 expressed as a standalone
# relational query (the expectations framework itself is in
# operators/expectations.py).
# ---------------------------------------------------------------------------
def valid_orders_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return orders.filter(
        F.col("o_orderkey").isNotNull()
        & F.col("o_custkey").isNotNull()
        & F.col("o_orderstatus").isin("O", "F", "P")
        & F.col("o_totalprice").between(0, 1000000)
        & (F.length(F.trim(F.col("o_orderpriority"))) > 0)
        & F.col("o_orderdate").isNotNull()
    ).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.col("o_totalprice").cast(MONEY).alias("total_price"),
        F.col("o_orderdate").cast("date").alias("order_date"),
    )


VALID_ORDERS_FILTER_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus,
       CAST(o_totalprice AS DECIMAL(12,2)) AS total_price,
       CAST(o_orderdate AS DATE) AS order_date
FROM orders
WHERE o_orderkey IS NOT NULL
  AND o_custkey IS NOT NULL
  AND o_orderstatus IN ('O', 'F', 'P')
  AND o_totalprice BETWEEN 0 AND 1000000
  AND LENGTH(TRIM(o_orderpriority)) > 0
  AND o_orderdate IS NOT NULL
"""


# ---------------------------------------------------------------------------
# DQ violation profiling — the WARN-expectation metric surface (P5) as a
# queryable summary: every rule evaluated in ONE scan (conditional-sum
# aggregates, map-side combined), then unpivoted to one row per rule.
# The Pipeline runtime gets the same numbers for free via observe();
# this is the batch profiling twin.
# ---------------------------------------------------------------------------
def dq_violation_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    rules = {
        "orderkey_not_null": F.col("l_orderkey").isNotNull(),
        "quantity_range": F.col("l_quantity").between(1, 50),
        "price_positive": F.col("l_extendedprice") > 0,
        "discount_range": F.col("l_discount").between(0.0, 0.1),
        "returnflag_domain": F.col("l_returnflag").isin("A", "N", "R"),
    }
    aggs = [
        F.sum(F.when(~pred | pred.isNull(), 1).otherwise(0)).alias(name)
        for name, pred in rules.items()
    ] + [F.count(F.lit(1)).alias("__total")]
    wide = li.agg(*aggs)
    long = wide.unpivot(
        ids=["__total"], values=list(rules), variableColumnName="rule",
        valueColumnName="n_violations",
    )
    return long.select(
        "rule",
        "n_violations",
        F.col("__total").alias("n_rows"),
        F.round(F.col("n_violations") * 100.0 / F.col("__total"), 4)
        .cast(RATE)
        .alias("violation_pct"),
    )


DQ_VIOLATION_SUMMARY_SQL = """
WITH agg AS (
  SELECT
    SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS orderkey_not_null,
    SUM(CASE WHEN NOT (l_quantity BETWEEN 1 AND 50)
              OR l_quantity IS NULL THEN 1 ELSE 0 END) AS quantity_range,
    SUM(CASE WHEN NOT (l_extendedprice > 0)
              OR l_extendedprice IS NULL THEN 1 ELSE 0 END) AS price_positive,
    SUM(CASE WHEN NOT (l_discount BETWEEN 0.0 AND 0.1)
              OR l_discount IS NULL THEN 1 ELSE 0 END) AS discount_range,
    SUM(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R')
              OR l_returnflag IS NULL THEN 1 ELSE 0 END) AS returnflag_domain,
    COUNT(*) AS n_rows
  FROM lineitem
)
SELECT rule, CAST(n_violations AS BIGINT) AS n_violations, n_rows,
       CAST(ROUND(n_violations * 100.0 / n_rows, 4) AS DECIMAL(10,2)) AS violation_pct
FROM (
  SELECT 'orderkey_not_null' AS rule, orderkey_not_null AS n_violations, n_rows FROM agg
  UNION ALL SELECT 'quantity_range', quantity_range, n_rows FROM agg
  UNION ALL SELECT 'price_positive', price_positive, n_rows FROM agg
  UNION ALL SELECT 'discount_range', discount_range, n_rows FROM agg
  UNION ALL SELECT 'returnflag_domain', returnflag_domain, n_rows FROM agg
)
"""


# ---------------------------------------------------------------------------
# P6 + quarantine under the oracle gate: DROP-row expectations with the
# dropped rows preserved and labeled (the audit-sink pattern,
# reference ON VIOLATION DROP ROW, src/pipelines/silver/orders.sql:10-22).
# ---------------------------------------------------------------------------
def dq_drop_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarantine rollup of DROP-expectation violations: lineitem rows
    failing any of three business rules are dropped from the main flow
    and land in the quarantine branch tagged with the violated rule
    names; the query returns per-label row counts and quantity totals.
    The oracle recomputes the same labels with CASE/list_filter, so the
    driver hash-verifies both the drop predicate semantics (NULL counts
    as violation) and the label construction."""
    from olist_lakehouse_2_0_spark.operators.expectations import (
        enforce,
        expect_or_drop,
    )

    li = load(spark, sf_dir, "lineitem")
    rules = [
        expect_or_drop("discount_low", F.col("l_discount") <= 0.05),
        expect_or_drop("quantity_cap", F.col("l_quantity") <= 30),
        expect_or_drop("flag_domain", F.col("l_returnflag").isin("A", "N")),
    ]
    result = enforce(li, rules, quarantine=True)
    return (
        result.quarantined.select(
            F.concat_ws(",", "_violated").alias("violated"),
            "l_quantity",
        )
        .groupBy("violated")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            # l_quantity values are integral doubles -> exact sums at
            # any parallelism.
            F.sum("l_quantity").alias("total_qty"),
        )
    )


DQ_DROP_QUARANTINE_SQL = """
WITH labeled AS (
  SELECT array_to_string(list_filter([
           CASE WHEN NOT COALESCE(l_discount <= 0.05, FALSE)
                THEN 'discount_low' END,
           CASE WHEN NOT COALESCE(l_quantity <= 30, FALSE)
                THEN 'quantity_cap' END,
           CASE WHEN NOT COALESCE(l_returnflag IN ('A', 'N'), FALSE)
                THEN 'flag_domain' END
         ], x -> x IS NOT NULL), ',') AS violated,
         l_quantity
  FROM lineitem
  WHERE NOT COALESCE(l_discount <= 0.05, FALSE)
     OR NOT COALESCE(l_quantity <= 30, FALSE)
     OR NOT COALESCE(l_returnflag IN ('A', 'N'), FALSE)
)
SELECT violated, COUNT(*) AS n_rows, SUM(l_quantity) AS total_qty
FROM labeled
GROUP BY violated
"""


# ---------------------------------------------------------------------------
# P7 under the oracle gate: the FAIL-UPDATE decision table as data.
# ---------------------------------------------------------------------------
def dq_fail_gate_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FAIL-gate's decision relation (P7, reference
    gold/daily_orders.sql:10-13 FAIL UPDATE): one row per expectation
    with violation count, action, and whether the gate would block the
    promotion. The rule mix guarantees both outcomes appear in the
    output — the two clean FAIL rules show gate_blocks=false, the
    strict price cap has real violations so its FAIL row must come out
    gate_blocks=true (and the oracle recomputes the identical table,
    so the gate's blocking logic itself is hash-verified, not just the
    counts). pytest covers the raise; this covers the decision."""
    from olist_lakehouse_2_0_spark.operators.expectations import (
        expect,
        expect_or_drop,
        expect_or_fail,
        gate_report,
    )

    orders = load(spark, sf_dir, "orders", spread=True)
    exps = [
        expect_or_fail("orderkey_not_null", F.col("o_orderkey").isNotNull()),
        expect_or_fail(
            "status_domain", F.col("o_orderstatus").isin("O", "F", "P")
        ),
        expect_or_fail("price_cap_strict", F.col("o_totalprice") <= 100000),
        expect_or_drop(
            "priority_nonempty",
            F.length(F.trim(F.col("o_orderpriority"))) > 0,
        ),
        expect("price_moderate", F.col("o_totalprice") <= 50000),
    ]
    return gate_report(orders, exps)


DQ_FAIL_GATE_VIOLATIONS_SQL = """
WITH agg AS (
  SELECT
    SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS v0,
    SUM(CASE WHEN NOT COALESCE(o_orderstatus IN ('O','F','P'), FALSE)
             THEN 1 ELSE 0 END) AS v1,
    SUM(CASE WHEN NOT COALESCE(o_totalprice <= 100000, FALSE)
             THEN 1 ELSE 0 END) AS v2,
    SUM(CASE WHEN NOT COALESCE(LENGTH(TRIM(o_orderpriority)) > 0, FALSE)
             THEN 1 ELSE 0 END) AS v3,
    SUM(CASE WHEN NOT COALESCE(o_totalprice <= 50000, FALSE)
             THEN 1 ELSE 0 END) AS v4
  FROM orders
)
SELECT rule, action, CAST(violations AS BIGINT) AS violations,
       (action = 'fail' AND violations > 0) AS gate_blocks
FROM (
  SELECT 'orderkey_not_null' AS rule, 'fail' AS action, v0 AS violations FROM agg
  UNION ALL SELECT 'status_domain', 'fail', v1 FROM agg
  UNION ALL SELECT 'price_cap_strict', 'fail', v2 FROM agg
  UNION ALL SELECT 'priority_nonempty', 'drop', v3 FROM agg
  UNION ALL SELECT 'price_moderate', 'warn', v4 FROM agg
)
"""


# ---------------------------------------------------------------------------
# Global top-k (O1/O2): ORDER BY + LIMIT compiles to
# TakeOrderedAndProject — per-partition heap of k rows + driver merge,
# never a full sort. The scalable "top N overall" path at any size.
# ---------------------------------------------------------------------------
def top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 25 orders by total price (orderkey tiebreak for a
    deterministic boundary)."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(25)
    )


TOP_REVENUE_ORDERS_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 25
"""


def mv_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MV sink and the CSV batch writer under the hash gate (S6 +
    S7 — previously pytest-only scaffold behaviors, VERDICT r3
    next-step #3): a one-node pipeline materializes a priority-level
    revenue MV through the full ``Pipeline`` path (build -> staged
    write -> crash-safe swap -> catalog registration), runs TWICE so
    the second run exercises the overwrite-recompute semantics
    (reference ``CREATE OR REFRESH MATERIALIZED VIEW``,
    resources/olist_jobs.yml daily job), then the MV is written out as
    headered CSV (S7), read back through the engine's ``read_csv``
    source, and returned — so the values the driver hashes have
    survived pipeline materialization AND a CSV text roundtrip.
    Decimals stay decimal through the CSV (exact text form), avoiding
    float formatting drift."""
    import os

    from pyspark.sql import types as T

    from olist_lakehouse_2_0_spark.catalog import Catalog
    from olist_lakehouse_2_0_spark.plans.pipeline import Pipeline, TableDef
    from olist_lakehouse_2_0_spark.sources.batch import read_csv
    from olist_lakehouse_2_0_spark.staging import staging_dir

    orders = load(spark, sf_dir, "orders")

    def build(ins: dict) -> DataFrame:
        return (
            ins["orders"]
            .groupBy(F.col("o_orderpriority").alias("priority"))
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                _money_sum("o_totalprice", "total_revenue"),
            )
        )

    root = staging_dir("mv_csv")
    cat = Catalog(root=os.path.join(root, "warehouse"))
    pipe = Pipeline(
        "mv_roundtrip",
        cat,
        [TableDef(name="priority_revenue_mv", inputs=("orders",), build=build)],
    )
    pipe.run(spark, external_inputs={"orders": orders})
    # Second run = full recompute + overwrite of the existing target.
    pipe.run(spark, external_inputs={"orders": orders})

    mv = cat.read(spark, "priority_revenue_mv")
    csv_path = os.path.join(root, "mv_csv_out")
    mv.write.option("header", True).mode("overwrite").csv(csv_path)
    schema = T.StructType(
        [
            T.StructField("priority", T.StringType()),
            T.StructField("n_orders", T.LongType()),
            T.StructField("total_revenue", T.DecimalType(18, 2)),
        ]
    )
    back = read_csv(spark, csv_path, schema, audit=True)
    # _rescued_data must be empty for every row (the writer/reader
    # agree on the dialect) — surface that as an oracled boolean
    # rather than silently dropping the audit surface.
    return back.groupBy("priority").agg(
        F.max("n_orders").alias("n_orders"),
        F.max("total_revenue").alias("total_revenue"),
        (F.count(F.when(F.col("_rescued_data").isNotNull(), 1)) == 0).alias(
            "roundtrip_clean"
        ),
    )


MV_CSV_ROUNDTRIP_SQL = """
SELECT o_orderpriority AS priority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2))
           AS total_revenue,
       TRUE AS roundtrip_clean
FROM orders
GROUP BY o_orderpriority
"""


def zorder_pruned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Z-order clustered write under the hash gate (reference
    zOrderCols table property, src/pipelines/bronze/orders.sql:14 —
    previously pytest-only layout machinery): orders are rewritten
    through ``Catalog.write_zordered`` on (o_custkey, o_totalprice) —
    bit-interleaved Z-keys, contiguous Z-ranges per file — then read
    back with a range predicate on EACH interleaved dimension and
    aggregated. The oracle recomputes from the original table, so any
    row the relayout dropped, duplicated, or mangled fails the hash;
    the file-skipping behavior of the layout itself is asserted in
    tests/test_compaction.py (point queries prune vs round-robin)."""
    import os

    from olist_lakehouse_2_0_spark.catalog import Catalog
    from olist_lakehouse_2_0_spark.staging import staging_dir

    orders = load(spark, sf_dir, "orders")
    root = staging_dir("zorder_q")
    cat = Catalog(root=os.path.join(root, "warehouse"))
    cat.write_zordered(
        spark, orders, "orders_z", ["o_custkey", "o_totalprice"], num_files=8
    )
    z = cat.read(spark, "orders_z")
    return (
        z.filter((F.col("o_custkey") % 10 < 3) & (F.col("o_totalprice") < 150000))
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _money_sum("o_totalprice", "total_revenue"),
        )
    )


ZORDER_PRUNED_REVENUE_SQL = """
SELECT o_orderpriority AS priority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2))
           AS total_revenue
FROM orders
WHERE o_custkey % 10 < 3 AND o_totalprice < 150000
GROUP BY o_orderpriority
"""


def clustered_pruned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The range-clustered write under the hash gate (the reference's
    single-key CLUSTER BY shape, src/pipelines/gold/daily_orders.sql:19
    — previously pytest-only layout machinery): orders are rewritten
    through ``Catalog.write_clustered`` on o_totalprice
    (repartitionByRange + sortWithinPartitions → disjoint per-file key
    ranges, tight row-group stats), read back with a key-range
    predicate, and aggregated. The oracle recomputes from the original
    table — any row the relayout dropped or duplicated fails the hash;
    the file-pruning behavior is asserted in tests/test_compaction.py."""
    import os

    from olist_lakehouse_2_0_spark.catalog import Catalog
    from olist_lakehouse_2_0_spark.staging import staging_dir

    orders = load(spark, sf_dir, "orders")
    root = staging_dir("clustered_q")
    cat = Catalog(root=os.path.join(root, "warehouse"))
    cat.write_clustered(orders, "orders_rc", ["o_totalprice"], num_files=8)
    rc = cat.read(spark, "orders_rc")
    return (
        rc.filter(
            (F.col("o_totalprice") >= 50000) & (F.col("o_totalprice") < 150000)
        )
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _money_sum("o_totalprice", "total_revenue"),
        )
    )


CLUSTERED_PRUNED_REVENUE_SQL = """
SELECT o_orderstatus AS status,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2))
           AS total_revenue
FROM orders
WHERE o_totalprice >= 50000 AND o_totalprice < 150000
GROUP BY o_orderstatus
"""


def bucketed_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join under the hash gate (previously
    pytest-only): customer and orders are both written as tables
    bucketed 8 ways on the customer key (``Catalog.write_bucketed`` —
    pay the shuffle once at ingest), then joined on that key. With
    matching bucket specs Spark plans the join with NO Exchange on
    either side (asserted in tests/test_bucketing.py); the driver hash
    proves the shuffle-free plan returns exactly the plain join's
    answer. This is the 100 TB strategy for fact tables joined every
    query: bucket at write time, never shuffle at read time."""
    from olist_lakehouse_2_0_spark.catalog import Catalog

    customer = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    orders = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"),
        F.col("o_totalprice").cast(MONEY).alias("price"),
    )
    # Bucketed tables live in the SESSION warehouse dir (saveAsTable —
    # bucket metadata only exists for catalog tables, not raw paths),
    # so no staging root is involved; unique names + mode=overwrite
    # keep repeat runs isolated.
    cat = Catalog(root=spark.conf.get("spark.sql.warehouse.dir"))
    cat.write_bucketed(customer, "q_bkt_customer", ["c_custkey"], num_buckets=8)
    cat.write_bucketed(orders, "q_bkt_orders", ["c_custkey"], num_buckets=8)
    joined = spark.table("q_bkt_orders").join(
        spark.table("q_bkt_customer"), "c_custkey"
    )
    return joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("price").cast(MONEY_SUM).alias("revenue"),
    )


BUCKETED_SEGMENT_REVENUE_SQL = """
SELECT c_mktsegment AS segment,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2))
           AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def schema_evolution_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution merge read under the hash gate (previously
    pytest-only): two generations of a bronze table — the original
    schema and a later one with an added ``price_band`` column — land
    as separate partition directories (``gen=v1`` / ``gen=v2``); a
    ``mergeSchema`` read reconciles them, backfilling the missing
    column as NULL for v1 files, and partition discovery types ``gen``
    from the directory names. The aggregate exposes the backfill
    (v1 rows land in the 'unbanded' bucket) so a wrong NULL-fill, a
    dropped generation, or a mis-discovered partition all fail the
    hash against the oracle's single-table re-derivation."""
    import os

    from olist_lakehouse_2_0_spark.sources.batch import read_parquet
    from olist_lakehouse_2_0_spark.staging import staging_dir

    orders = load(spark, sf_dir, "orders")
    v1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderpriority", F.col("o_totalprice").cast(MONEY)
    )
    v2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast(MONEY),
        F.when(F.col("o_totalprice") >= 200000, F.lit("high"))
        .otherwise(F.lit("low"))
        .alias("price_band"),
    )
    root = os.path.join(staging_dir("schema_evo"), "bronze")
    v1.write.mode("overwrite").parquet(os.path.join(root, "gen=v1"))
    v2.write.mode("overwrite").parquet(os.path.join(root, "gen=v2"))
    merged = read_parquet(spark, root, merge_schema=True)
    return merged.groupBy(
        F.col("gen"),
        F.coalesce(F.col("price_band"), F.lit("unbanded")).alias("band"),
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_totalprice").cast(MONEY_SUM).alias("total_revenue"),
    )


SCHEMA_EVOLUTION_METRICS_SQL = """
SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'v1' ELSE 'v2' END AS gen,
       CASE WHEN o_orderkey % 2 = 0 THEN 'unbanded'
            WHEN o_totalprice >= 200000 THEN 'high' ELSE 'low' END AS band,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2))
           AS total_revenue
FROM orders
GROUP BY 1, 2
"""


def partition_overwrite_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite under the hash gate (previously
    pytest-only; the partition-scoped gold-refresh pattern): a
    per-priority revenue table is written partitioned by priority, then
    TWO partitions are recomputed under a revised rule (high-value
    orders only) and swapped in via
    ``Catalog.overwrite_partitions`` — which must replace exactly the
    partitions present in the incoming frame and leave the other three
    byte-untouched. The read-back is hashed against the oracle's
    re-derivation of that mixed final state, so an over-wide overwrite
    (Spark's static mode truncates the whole table) or a missed refresh
    both fail."""
    import os

    from olist_lakehouse_2_0_spark.catalog import Catalog
    from olist_lakehouse_2_0_spark.staging import staging_dir

    orders = load(spark, sf_dir, "orders")
    root = staging_dir("dyn_overwrite")
    cat = Catalog(root=os.path.join(root, "warehouse"))

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy(F.col("o_orderpriority").alias("priority")).agg(
            F.count(F.lit(1)).alias("n_orders"),
            _money_sum("o_totalprice", "total_revenue"),
        )

    cat.write(rollup(orders), "priority_gold", partition_by=["priority"])
    refreshed = rollup(
        orders.filter(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
            & (F.col("o_totalprice") >= 50000)
        )
    )
    cat.overwrite_partitions(refreshed, "priority_gold", ["priority"])
    return cat.read(spark, "priority_gold").select(
        "priority", "n_orders", "total_revenue"
    )


PARTITION_OVERWRITE_GOLD_SQL = """
SELECT o_orderpriority AS priority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2))
           AS total_revenue
FROM orders
WHERE CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
           THEN o_totalprice >= 50000 ELSE TRUE END
GROUP BY o_orderpriority
"""


def compaction_roundtrip_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction under the hash gate (previously
    pytest-only; the reference delegates this to auto-optimize): orders
    are deliberately fragmented into 64 files (the streaming-ingest
    small-file shape), compacted through ``Catalog.compact`` (coalesce
    rewrite + crash-safe swap), and the compacted table is re-read and
    rolled up. The oracle aggregates the original table — any row lost
    or duplicated by the rewrite/swap fails the hash — and the
    file-count collapse is exposed as an oracled boolean."""
    import os

    from olist_lakehouse_2_0_spark.catalog import Catalog
    from olist_lakehouse_2_0_spark.staging import staging_dir

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    root = staging_dir("compact_q")
    cat = Catalog(root=os.path.join(root, "warehouse"))
    cat.write(orders.repartition(64), "orders_frag")
    # 8 GiB target (not the 128 MiB default): the oracle asserts
    # files_reduced=TRUE, and compact() legitimately no-ops once
    # ceil(total_bytes/target) >= 64 — at 128 MiB that is an ~8 GB
    # staged table, reachable by a large-sf sweep; at 8 GiB the no-op
    # needs a ~512 GB staging copy, beyond any sweep this repo runs.
    before, after = cat.compact(
        spark, "orders_frag", target_file_bytes=8 << 30
    )
    frag = cat.read(spark, "orders_frag")
    return frag.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        _money_sum("o_totalprice", "total_revenue"),
        F.lit(bool(after < before)).alias("files_reduced"),
    )


COMPACTION_ROUNDTRIP_SQL = """
SELECT o_orderpriority AS priority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2))
           AS total_revenue,
       TRUE AS files_reduced
FROM orders
GROUP BY o_orderpriority
"""


def mv_time_travel_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned-table time travel under the hash gate (round 5; the
    parquet-layout slice of Delta's VERSION AS OF — VERDICT r4
    "What's missing" #1): a gold MV is refreshed TWICE through the
    versioned writer (v1 = orders before 1995, v2 = all orders, both
    with schema enforcement on), then the CURRENT read, the
    time-traveled v1 read, and the version history are compared. The
    oracle computes both populations straight from orders — a
    time-travel read that returned the wrong snapshot, or a promote
    that corrupted either version, fails the hash; the history shape
    (2 retained versions, latest = 2) is exposed as oracled booleans."""
    import os

    from olist_lakehouse_2_0_spark.catalog import Catalog
    from olist_lakehouse_2_0_spark.staging import staging_dir

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    root = staging_dir("ttravel_q")
    cat = Catalog(root=os.path.join(root, "warehouse"))
    cutoff = F.lit("1995-01-01").cast("timestamp")
    cat.write_versioned(
        orders.filter(F.col("o_orderdate") < cutoff),
        spark, "orders_mv", layer="gold", enforce_schema=True,
    )
    cat.write_versioned(
        orders, spark, "orders_mv", layer="gold", enforce_schema=True
    )
    current = cat.read(spark, "orders_mv", layer="gold")
    v1 = cat.read_version(spark, "orders_mv", 1, layer="gold")
    hist = cat.version_history(spark, "orders_mv", layer="gold").agg(
        F.count(F.lit(1)).alias("__n_versions"),
        F.max("version").alias("__latest"),
    )
    return (
        current.agg(
            F.count(F.lit(1)).alias("n_current"),
            _money_sum("o_totalprice", "revenue_current"),
        )
        .crossJoin(
            v1.agg(
                F.count(F.lit(1)).alias("n_v1"),
                _money_sum("o_totalprice", "revenue_v1"),
            )
        )
        .crossJoin(hist)
        .select(
            "n_current",
            "revenue_current",
            "n_v1",
            "revenue_v1",
            (F.col("__n_versions") == 2).alias("history_ok"),
            (F.col("__latest") == 2).alias("latest_ok"),
        )
    )


MV_TIME_TRAVEL_SQL = """
SELECT (SELECT COUNT(*) FROM orders) AS n_current,
       (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                    AS DECIMAL(18,2)) FROM orders) AS revenue_current,
       (SELECT COUNT(*) FROM orders
        WHERE o_orderdate < TIMESTAMP '1995-01-01') AS n_v1,
       (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                    AS DECIMAL(18,2)) FROM orders
        WHERE o_orderdate < TIMESTAMP '1995-01-01') AS revenue_v1,
       TRUE AS history_ok,
       TRUE AS latest_ok
"""


#: Cumulative snapshot cutoffs for the Delta-export roundtrip: catalog
#: version k+1 (Delta commit k) holds months strictly before CUTOFFS[k].
#: Fixed calendar dates so every scale factor derives the same version
#: populations (this testdata's order dates span 1995-01..2001-08, so
#: every snapshot below is NON-empty — an empty early snapshot would
#: make the time-travel hash gate vacuous); the last cutoff makes the
#: final snapshot the full table.
_DELTA_RT_CUTOFFS = (
    "1996-01-01", "1997-01-01", "1998-01-01", "1998-07-01",
    "1999-01-01", "2000-01-01", "9999-12-01",
)


def _multiset_equal(*pairs: tuple[DataFrame, DataFrame]) -> list[bool]:
    """Multiset equality for several frame pairs in ONE action: each
    pair contributes its two ``exceptAll`` legs tagged with the pair
    index, the tagged legs union, and any surviving tag marks its pair
    unequal. Replaces two sequential ``count()`` jobs PER PAIR with a
    single bounded collect (guide §1.2/§5 — on this suite every extra
    driver-sequenced job costs ~0.1–0.2 s of job + scheduling gap; the
    delta lifecycle queries ran up to six of these back to back).
    Frames within a pair must be union-compatible, as ``exceptAll``
    already requires; ACROSS pairs schemas may differ (the tag
    projection happens after each ``exceptAll``)."""
    from functools import reduce

    legs = []
    for i, (x, y) in enumerate(pairs):
        legs.append(x.exceptAll(y).select(F.lit(i).alias("__pair")))
        legs.append(y.exceptAll(x).select(F.lit(i).alias("__pair")))
    unequal = {
        r["__pair"]
        for r in reduce(DataFrame.unionAll, legs).distinct().collect()
    }
    return [i not in unequal for i in range(len(pairs))]


def delta_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-protocol export lifecycle under the hash gate (round 8;
    VERDICT r7 "What's missing" #1 — the reference stores every table
    as Delta, README.md:302-308, src/pipelines/bronze/orders.sql:9-15):
    a monthly-revenue gold MV is refreshed through SEVEN versioned
    writes, exported as a Delta-protocol table with checkpoint cadence
    3 (checkpoints land at Delta commits 2 and 5), and the JSON commits
    the last checkpoint subsumes are pruned. The independent log-replay
    reader (``read_delta``, which uses ONLY ``_delta_log`` contents)
    must then reproduce: the CURRENT state through the
    checkpoint-5-plus-tail bootstrap, and ``VERSION AS OF 2`` through
    the INTERMEDIATE checkpoint whose own JSON commits are gone — the
    protocol's answer to log growth. Both reads are hashed against the
    oracle's re-derivation from orders; three oracled booleans pin the
    rest of the contract: value parity between the Delta reads and the
    catalog's own time travel (``read_version``), the missing-commits
    error for a version BELOW the intermediate checkpoint with a pruned
    JSON tail (Delta's log-cleanup contract), and the post-prune log
    shape (exactly one JSON commit above the last checkpoint)."""
    import os

    from olist_lakehouse_2_0_spark.catalog import Catalog
    from olist_lakehouse_2_0_spark.delta_export import (
        _list_commits,
        export_delta,
        export_history,
        prune_log,
        read_delta,
    )
    from olist_lakehouse_2_0_spark.staging import staging_dir

    orders = load(spark, sf_dir, "orders")
    monthly = (
        orders.withColumn(
            "order_month",
            F.date_trunc("month", F.col("o_orderdate")).cast("date"),
        )
        .groupBy("order_month")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _money_sum("o_totalprice", "revenue"),
        )
        .persist()  # 7 snapshot writes fork from this ~80-row aggregate
    )
    root = staging_dir("delta_rt_q")
    cat = Catalog(root=os.path.join(root, "warehouse"))
    for cut in _DELTA_RT_CUTOFFS:
        # coalesce(1): the ~80-row snapshot must not inherit the
        # aggregate's 32 shuffle partitions — 7×32 tiny files would
        # dominate the export/checkpoint/replay cost for zero benefit
        cat.write_versioned(
            monthly.filter(
                F.col("order_month") < F.lit(cut).cast("date")
            ).coalesce(1),
            spark, "monthly_gold", layer="gold", keep=len(_DELTA_RT_CUTOFFS),
        )
    src_root = cat.path_for("monthly_gold", "gold")
    dest = os.path.join(root, "delta")
    export_delta(spark, src_root, dest, checkpoint_interval=3)
    # TIMESTAMP AS OF across the checkpoint boundary (round 9 arm):
    # while the full JSON history is retained, commit 2's own
    # commitInfo timestamp must resolve to version 2 and read THROUGH
    # checkpoint 2 (strictly-monotone stamps make the resolution
    # deterministic); after the prune below deletes commits 0..5 the
    # same stamp must RAISE — commitInfo lives only in JSON commits
    # (Delta's own contract: log cleanup bounds timestamp travel).
    ts2 = {
        h["version"]: h["timestamp"]
        for h in export_history(spark, dest).collect()
    }[2]
    d_ts2 = read_delta(spark, dest, timestamp=ts2)
    prune_log(spark, dest)  # deletes JSON commits 0..5; commit 6 stays

    d_current = read_delta(spark, dest)
    d_v2 = read_delta(spark, dest, version=2)
    try:
        read_delta(spark, dest, timestamp=ts2)
        ts_pruned_raises = False
    except (IOError, ValueError):
        ts_pruned_raises = True
    # parity vs the catalog's own time travel (Delta commit k exports
    # catalog version k+1); multiset equality over the tiny aggregates.
    # All three equality checks (ts-travel + both parity pairs) run as
    # ONE job via _multiset_equal — this query previously sequenced six
    # bounded count() jobs here (~1 s of job+gap in the stage profile).
    c_current = cat.read(spark, "monthly_gold", layer="gold")
    c_v3 = cat.read_version(spark, "monthly_gold", 3, layer="gold")
    ts_travel_ok, parity_cur, parity_v2 = _multiset_equal(
        (d_ts2, d_v2), (d_current, c_current), (d_v2, c_v3)
    )
    parity = parity_cur and parity_v2
    # version 3 sits ABOVE checkpoint 2 with its JSON commit pruned:
    # the reader must refuse, not fabricate state
    try:
        read_delta(spark, dest, version=3)
        pruned_raises = False
    except IOError:
        pruned_raises = True
    log_pruned = _list_commits(spark, dest) == [6]
    monthly.unpersist(blocking=False)

    def tagged(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            F.lit(tag).alias("snapshot"),
            "order_month",
            "n_orders",
            "revenue",
            F.lit(bool(parity)).alias("catalog_parity"),
            F.lit(bool(pruned_raises)).alias("pruned_history_raises"),
            F.lit(bool(log_pruned)).alias("log_pruned"),
            F.lit(bool(ts_travel_ok)).alias("ts_travel_ok"),
            F.lit(bool(ts_pruned_raises)).alias("ts_pruned_raises"),
        )

    return tagged(d_v2, "v2").unionAll(tagged(d_current, "current"))


DELTA_EXPORT_ROUNDTRIP_SQL = """
WITH m AS (
  SELECT CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS order_month,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2))
             AS revenue
  FROM orders
  GROUP BY 1
)
SELECT 'v2' AS snapshot, order_month, n_orders, revenue,
       TRUE AS catalog_parity, TRUE AS pruned_history_raises,
       TRUE AS log_pruned, TRUE AS ts_travel_ok,
       TRUE AS ts_pruned_raises
FROM m WHERE order_month < DATE '1998-01-01'
UNION ALL
SELECT 'current' AS snapshot, order_month, n_orders, revenue,
       TRUE AS catalog_parity, TRUE AS pruned_history_raises,
       TRUE AS log_pruned, TRUE AS ts_travel_ok,
       TRUE AS ts_pruned_raises
FROM m
"""


def delta_convert_publish_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-copy CONVERT TO DELTA + publish + history + TIMESTAMP AS OF
    under the hash gate (round 8; the interop features landed earlier
    this round pytest-only). A per-priority revenue gold table (orders
    before 1997) is written PARTITIONED by priority and converted to a
    Delta table IN PLACE — commit 0 references the existing files, zero
    copies (Delta's CONVERT TO DELTA semantics). Two refreshed states
    (orders before 1999, then all orders) are then published as commits
    1 and 2. The log-replay reader must reproduce: the CURRENT state,
    VERSION AS OF 0 (the converted snapshot, reached through the
    partition contract the conversion emitted), and the SAME snapshot
    via TIMESTAMP AS OF using commit 0's own commitInfo timestamp from
    ``export_history`` — all hashed against the oracle's re-derivation
    from orders. Oracled booleans pin the history relation: operations
    [CONVERT, WRITE, WRITE], sourceVersion ordinals [0, 1, 2],
    nondecreasing timestamps, and timestamp-travel/version-travel
    agreement."""
    import os

    from olist_lakehouse_2_0_spark.catalog import Catalog
    from olist_lakehouse_2_0_spark.delta_export import (
        convert_to_delta,
        export_history,
        publish_delta,
        read_delta,
    )
    from olist_lakehouse_2_0_spark.staging import staging_dir

    orders = load(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice", "o_orderdate"
    )

    def rollup(df: DataFrame) -> DataFrame:
        return (
            df.groupBy(F.col("o_orderpriority").alias("priority"))
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                _money_sum("o_totalprice", "revenue"),
            )
            .coalesce(1)
        )

    def before(cut: str) -> DataFrame:
        return orders.filter(
            F.col("o_orderdate") < F.lit(cut).cast("timestamp")
        )

    root = staging_dir("delta_cv_q")
    cat = Catalog(root=os.path.join(root, "warehouse"))
    cat.write(rollup(before("1997-01-01")), "gold", partition_by=["priority"])
    table = cat.path_for("gold")
    convert_to_delta(spark, table)
    for cut in ("1999-01-01", None):
        refreshed = rollup(before(cut) if cut else orders)
        stage = os.path.join(root, f"refresh_{cut or 'all'}")
        refreshed.write.mode("overwrite").parquet(stage)
        publish_delta(spark, stage, table)

    hist = export_history(spark, table).orderBy("version").collect()
    history_ok = (
        [h["version"] for h in hist] == [0, 1, 2]
        and [h["operation"] for h in hist] == ["CONVERT", "WRITE", "WRITE"]
        and [h["source_version"] for h in hist] == [0, 1, 2]
        and [h["timestamp"] for h in hist]
        == sorted(h["timestamp"] for h in hist)
    )
    d_current = read_delta(spark, table)
    d_v0 = read_delta(spark, table, version=0)
    d_ts0 = read_delta(spark, table, timestamp=hist[0]["timestamp"])
    # timestamp travel must agree with version travel EXACTLY (ties at
    # the same millisecond resolve to the latest commit, so compare
    # against the version that timestamp actually names)
    ts_target = max(
        h["version"] for h in hist if h["timestamp"] <= hist[0]["timestamp"]
    )
    d_ts_expect = read_delta(spark, table, version=ts_target)
    # one job for both exceptAll legs (see _multiset_equal)
    (travel_ok,) = _multiset_equal((d_ts0, d_ts_expect))

    def tagged(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            F.lit(tag).alias("snapshot"),
            "priority",
            "n_orders",
            "revenue",
            F.lit(bool(history_ok)).alias("history_ok"),
            F.lit(bool(travel_ok)).alias("timestamp_travel_ok"),
        )

    return tagged(d_v0, "v0").unionAll(tagged(d_current, "current"))


DELTA_CONVERT_PUBLISH_HISTORY_SQL = """
WITH r AS (
  SELECT o_orderpriority AS priority,
         COUNT(*) FILTER (WHERE o_orderdate < TIMESTAMP '1997-01-01')
             AS n0,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
              FILTER (WHERE o_orderdate < TIMESTAMP '1997-01-01')
              AS DECIMAL(18,2)) AS rev0,
         COUNT(*) AS n_all,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
              AS DECIMAL(18,2)) AS rev_all
  FROM orders
  GROUP BY o_orderpriority
)
SELECT 'v0' AS snapshot, priority, n0 AS n_orders, rev0 AS revenue,
       TRUE AS history_ok, TRUE AS timestamp_travel_ok
FROM r WHERE n0 > 0
UNION ALL
SELECT 'current', priority, n_all, rev_all, TRUE, TRUE
FROM r
"""


def delta_column_mapping_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """READ-side column mapping under the hash gate (round 9; VERDICT
    r8 "What's missing" #1 — the r8 machinery was pytest-only). A
    customer-segment rollup is laid out the way a FOREIGN delta-spark
    writer with ``delta.columnMapping.mode=name`` puts it on disk:
    opaque physical parquet column names (``col-1``..``col-3``), hive
    partition directories under the PHYSICAL partition name, and a
    ``minReaderVersion=2`` log whose logical schema maps to those
    names via the spec's ``delta.columnMapping.physicalName`` field
    metadata (metaData.partitionColumns stays LOGICAL; add-action
    partitionValues keys stay PHYSICAL — both per PROTOCOL.md).
    ``read_delta`` must surface the LOGICAL relation, values
    hash-gated against the oracle's re-derivation from customer.
    Round 10 (VERDICT r9 next-step #3) adds the POSITIVE id-mode leg:
    a second table whose parquet files CARRY field ids (and
    deliberately different physical column names, so any name-based
    match would misread) is doctored to ``mode=id`` and must read
    correctly through Spark's native field-id matching — its rows sit
    under the same hash gate tagged ``mapping_mode='id'``. The
    refusal leg is retained for id-LESS files (oracled boolean): a
    converted table whose files keep original names and no ids would
    silently read all-NULL under any name/id guess, so
    refusal-over-misread stays the contract there. The scan half is one
    partition-discovery basePath read over the physically-named hive
    layout, re-projected to logical names (no shuffle, no UDF); the log
    doctoring and the refusal probe are driver-side metadata work,
    O(log size), exactly where Delta clients do log replay."""
    import json as _json
    import os
    import shutil

    from pyspark.sql import types as T

    from olist_lakehouse_2_0_spark.delta_export import (
        _commit_path,
        convert_to_delta,
        read_delta,
    )
    from olist_lakehouse_2_0_spark.staging import staging_dir

    customer = load(spark, sf_dir, "customer")
    agg = (
        customer.groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            _money_sum("c_acctbal", "acctbal_sum"),
        )
    )
    phys = {
        "segment": "col-1",
        "n_customers": "col-2",
        "acctbal_sum": "col-3",
    }
    cm_ids = {"segment": 1, "n_customers": 2, "acctbal_sum": 3}
    root = staging_dir("delta_cm_q")
    table = os.path.join(root, "mapped")
    (
        agg.select(*[F.col(l).alias(p) for l, p in phys.items()])
        .coalesce(1)  # 5 segments; one file per partition dir
        .write.partitionBy("col-1")
        .parquet(table)
    )
    # id-mode positive fixture: files carry PARQUET FIELD IDS and a
    # different physical naming scheme entirely (fid-N), so a correct
    # read can only come from field-id matching, never name luck
    table_id = os.path.join(root, "mapped_id")
    (
        agg.select(
            *[
                F.col(l).alias(
                    f"fid-{cm_ids[l]}",
                    metadata={"parquet.field.id": cm_ids[l]},
                )
                for l in phys
            ]
        )
        .coalesce(1)
        .write.partitionBy("fid-1")
        .parquet(table_id)
    )
    # Convert in place (commit 0 references the physical layout:
    # physical schemaString, physical partitionColumns, physical
    # partitionValues keys), then doctor protocol + metaData into the
    # foreign column-mapped form a delta-spark writer would emit. The
    # doctoring is the FIXTURE; read_delta is the code under test.
    convert_to_delta(spark, table)
    convert_to_delta(spark, table_id)

    def logical(phys_map: dict) -> T.StructType:
        types = {
            "segment": T.StringType(),
            "n_customers": T.LongType(),
            "acctbal_sum": T.DecimalType(18, 2),
        }
        return T.StructType(
            [
                T.StructField(
                    l, types[l], True,
                    {"delta.columnMapping.id": cm_ids[l],
                     "delta.columnMapping.physicalName": phys_map[l]},
                )
                for l in ("segment", "n_customers", "acctbal_sum")
            ]
        )

    def doctor(table_dir: str, mode: str, phys_map: dict) -> None:
        cpath = _commit_path(table_dir, 0)
        with open(cpath) as fh:
            actions = [_json.loads(l) for l in fh if l.strip()]
        for a in actions:
            if "protocol" in a:
                a["protocol"] = {
                    "minReaderVersion": 2, "minWriterVersion": 5,
                }
            if "metaData" in a:
                a["metaData"]["schemaString"] = logical(phys_map).json()
                a["metaData"]["partitionColumns"] = ["segment"]
                a["metaData"]["configuration"] = {
                    "delta.columnMapping.mode": mode,
                    "delta.columnMapping.maxColumnId": "3",
                }
        with open(cpath, "w") as fh:
            fh.write("\n".join(_json.dumps(a) for a in actions))

    # id-LESS twin from the name-mode files (they carry no field ids)
    # BEFORE the name-mode doctor, so its log is pristine
    table_idless = os.path.join(root, "mapped_idless")
    shutil.copytree(table, table_idless)
    doctor(table, "name", phys)
    doctor(table_idless, "id", phys)
    doctor(
        table_id, "id", {l: f"fid-{cm_ids[l]}" for l in phys}
    )
    try:
        read_delta(spark, table_idless)
        idless_refused = False
    except IOError:
        idless_refused = True

    def tagged(table_dir: str, mode: str) -> DataFrame:
        return read_delta(spark, table_dir).select(
            F.lit(mode).alias("mapping_mode"),
            "segment",
            "n_customers",
            "acctbal_sum",
            F.lit(bool(idless_refused)).alias("idless_refused"),
        )

    return tagged(table, "name").unionAll(tagged(table_id, "id"))


DELTA_COLUMN_MAPPING_READ_SQL = """
WITH agg AS (
  SELECT c_mktsegment AS segment,
         COUNT(*) AS n_customers,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DECIMAL(18,2))
             AS acctbal_sum
  FROM customer
  GROUP BY c_mktsegment
)
SELECT 'name' AS mapping_mode, segment, n_customers, acctbal_sum,
       TRUE AS idless_refused
FROM agg
UNION ALL
SELECT 'id', segment, n_customers, acctbal_sum, TRUE FROM agg
"""


def delta_partitioned_vacuum_lifecycle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Partitioned Delta export + VACUUM retain-N under one hash gate
    (round 9; VERDICT r8 next-step #6 — the machinery all landed r8,
    the composition was not yet oracled). A per-priority revenue gold
    table partitioned by priority is published THREE times with
    widening date cutoffs (Delta commits 0..2, hive ``priority=...``
    layouts, protocol partition contract), then
    ``vacuum_export(retain_versions=2)`` drops version 0: its JSON
    commit, and exactly the data files ONLY version 0 referenced.
    Hash-gated reads after the vacuum: the CURRENT state, VERSION AS
    OF 1 (the oldest retained version), and a PARTITION-PRUNED slice
    of current (filter on the partition column — planned as one
    basePath scan that prunes directories). Oracled booleans pin the
    lifecycle: version 0 raises the missing-commits error after the
    vacuum; the vacuum's file sweep deleted something (version 0's
    exclusive files) while every file the retained versions reference
    survived on disk (disk walk vs log, the same traversal the
    exporter uses). The vacuum's sweep and the survivor audit are
    driver-side O(files) metadata walks that launch no Spark job."""
    import os

    from olist_lakehouse_2_0_spark.delta_export import (
        _replay,
        _resolve_disk_paths,
        _walk_hive_parquet,
        publish_delta,
        read_delta,
        vacuum_export,
    )
    from olist_lakehouse_2_0_spark.staging import staging_dir

    orders = load(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice", "o_orderdate"
    ).persist()  # 3 snapshot publishes + nothing else forks from this

    def rollup(df: DataFrame) -> DataFrame:
        return (
            df.groupBy(F.col("o_orderpriority").alias("priority"))
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                _money_sum("o_totalprice", "revenue"),
            )
            .coalesce(1)
        )

    root = staging_dir("delta_vac_q")
    dest = os.path.join(root, "delta")
    for i, cut in enumerate(("1996-01-01", "1999-01-01", None)):
        snap = rollup(
            orders.filter(
                F.col("o_orderdate") < F.lit(cut).cast("timestamp")
            )
            if cut
            else orders
        )
        stage = os.path.join(root, f"snap{i}")
        snap.write.partitionBy("priority").mode("overwrite").parquet(stage)
        publish_delta(spark, stage, dest)
    res = vacuum_export(spark, dest, retain_versions=2)
    orders.unpersist(blocking=False)

    d_current = read_delta(spark, dest)
    d_v1 = read_delta(spark, dest, version=1)
    d_pruned = d_current.filter(F.col("priority") == "1-URGENT")
    try:
        read_delta(spark, dest, version=0)
        below_cutoff_raises = False
    except IOError:
        below_cutoff_raises = True
    # survivor audit: every file a RETAINED version references must
    # still exist on disk; the sweep must have deleted version 0's
    # exclusive files (driver-side metadata walk, O(files))
    _, HPath, fs = _fs(spark, dest)
    on_disk = {
        rel for rel, _st, _pv in _walk_hive_parquet(fs, HPath, dest)
    }
    referenced = set()
    for v in (1, 2):
        referenced |= _replay(spark, dest, v)["active"]
    survivors = {
        os.path.relpath(p, dest)
        for p in _resolve_disk_paths(spark, dest, referenced).values()
    }
    sweep_ok = (
        res["cutoff"] == 1
        and res["data_files_deleted"] > 0
        # exact equality: every referenced file survived AND nothing
        # unreferenced (version 0's exclusive files) survived
        and on_disk == survivors
    )

    def tagged(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            F.lit(tag).alias("snapshot"),
            "priority",
            "n_orders",
            "revenue",
            F.lit(bool(below_cutoff_raises)).alias("below_cutoff_raises"),
            F.lit(bool(sweep_ok)).alias("sweep_ok"),
        )

    return (
        tagged(d_v1, "v1")
        .unionAll(tagged(d_current, "current"))
        .unionAll(tagged(d_pruned, "current_urgent"))
    )


DELTA_PARTITIONED_VACUUM_LIFECYCLE_SQL = """
WITH r AS (
  SELECT o_orderpriority AS priority,
         COUNT(*) FILTER (WHERE o_orderdate < TIMESTAMP '1999-01-01')
             AS n1,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
              FILTER (WHERE o_orderdate < TIMESTAMP '1999-01-01')
              AS DECIMAL(18,2)) AS rev1,
         COUNT(*) AS n_all,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
              AS DECIMAL(18,2)) AS rev_all
  FROM orders
  GROUP BY o_orderpriority
)
SELECT 'v1' AS snapshot, priority, n1 AS n_orders, rev1 AS revenue,
       TRUE AS below_cutoff_raises, TRUE AS sweep_ok
FROM r WHERE n1 > 0
UNION ALL
SELECT 'current', priority, n_all, rev_all, TRUE, TRUE FROM r
UNION ALL
SELECT 'current_urgent', priority, n_all, rev_all, TRUE, TRUE
FROM r WHERE priority = '1-URGENT'
"""


def delta_deletion_vector_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Reader-v3 deletion vectors under the hash gate (round 10;
    VERDICT r9 next-step #2 — the largest real-user interop gap). An
    orders slice is laid out the way a foreign delta-spark writer
    leaves a table after a DELETE: hive-partitioned parquet (one file
    per priority), a ``minReaderVersion=3`` log whose readerFeatures
    list ``deletionVectors``, and every add carrying a DV descriptor
    hiding the rows WHERE ``o_orderkey % 7 = 0``. Three files point
    into ONE shared on-disk DV file at distinct offsets under a random
    prefix — the production shape: one DELETE writes one DV file for
    many data files — and the rest are inline ('i') descriptors, so
    both storage types sit under the gate. ``read_delta`` must surface
    exactly the surviving rows (deletion_vectors.py decodes the spec's
    Z85/RoaringBitmapArray/DV-file formats; the scan anti-joins on
    ``_metadata.file_path``/``row_index``), hash-gated against the
    oracle's re-derivation. Oracled booleans: a doctored twin
    demanding an extra UNKNOWN reader feature (v2Checkpoint) refuses
    by name; ``vacuum_export`` on the DV table refuses (writer floor
    is protocol (1,2) — its sweep would reclaim the DV ``.bin`` as
    untracked debris and resurrect deleted rows).

    The forger computes deleted (file, row-index) pairs by scanning
    the staged files' own ``_metadata.row_index`` — ground truth by
    construction, no write-order assumption — and collects ~rows/7
    bounded index tuples, the same metadata a real DELETE stages
    driver-side when writing its DV."""
    import json as _json
    import os
    import shutil
    import uuid as _uuid

    from olist_lakehouse_2_0_spark.delta_export import (
        _commit_path,
        _decode_path,
        convert_to_delta,
        read_delta,
        vacuum_export,
    )
    from olist_lakehouse_2_0_spark.deletion_vectors import (
        make_inline_descriptor,
        make_uuid_descriptor,
        pack_dv_file,
        serialize_roaring_array,
    )
    from olist_lakehouse_2_0_spark.staging import staging_dir

    root = staging_dir("delta_dv_q")
    table = os.path.join(root, "dv_table")
    orders = load(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        "o_orderkey",
        "o_totalprice",
    )
    (
        orders.repartition("priority")
        .write.partitionBy("priority")
        .parquet(table)
    )
    convert_to_delta(spark, table)

    # ground-truth deleted row indexes, from the files themselves
    staged = (
        spark.read.option("basePath", table)
        .parquet(table)
        .select(
            F.col("_metadata.file_path").alias("fp"),
            F.col("_metadata.row_index").alias("ri"),
            "o_orderkey",
        )
    )
    per_file = (
        staged.filter(F.col("o_orderkey") % 7 == 0)
        .groupBy("fp")
        .agg(F.sort_array(F.collect_list("ri")).alias("ris"))
        .collect()
    )
    rel_to_indexes = {}
    for r in per_file:
        # _metadata.file_path is URI-ENCODED ('NOT SPECIFIED' dirs
        # carry %20); decode to the on-disk name before relpath so the
        # key matches _decode_path(add.path)
        disk = r["fp"]
        disk = disk[len("file:"):] if disk.startswith("file:") else disk
        rel_to_indexes[os.path.relpath(_decode_path(disk), table)] = [
            int(x) for x in r["ris"]
        ]
    rels = sorted(rel_to_indexes)
    # first three files share ONE on-disk DV file; the rest go inline
    ondisk_rels = rels[:3]
    bitmaps = [
        serialize_roaring_array(rel_to_indexes[rel])
        for rel in ondisk_rels
    ]
    file_bytes, slots = pack_dv_file(bitmaps)
    dv_uuid = _uuid.uuid4()
    os.makedirs(os.path.join(table, "ab"))
    with open(
        os.path.join(table, "ab", f"deletion_vector_{dv_uuid}.bin"),
        "wb",
    ) as fh:
        fh.write(file_bytes)
    descriptors = {
        rel: make_uuid_descriptor(
            dv_uuid, slot["offset"], slot["sizeInBytes"],
            slot["cardinality"], prefix="ab",
        )
        for rel, slot in zip(ondisk_rels, slots)
    }
    for rel in rels[3:]:
        descriptors[rel] = make_inline_descriptor(
            serialize_roaring_array(rel_to_indexes[rel])
        )

    def doctor(table_dir: str, features: list[str]) -> None:
        cpath = _commit_path(table_dir, 0)
        with open(cpath) as fh:
            actions = [_json.loads(l) for l in fh if l.strip()]
        for a in actions:
            if "protocol" in a:
                a["protocol"] = {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": features,
                    "writerFeatures": ["deletionVectors"],
                }
            if "add" in a:
                rel = _decode_path(a["add"]["path"])
                if rel in descriptors:
                    a["add"]["deletionVector"] = descriptors[rel]
        with open(cpath, "w") as fh:
            fh.write("\n".join(_json.dumps(a) for a in actions))

    # unknown-feature twin BEFORE the main doctor (copy carries the
    # pristine log; its own doctor then demands v2Checkpoint too)
    twin = os.path.join(root, "dv_table_unknown")
    shutil.copytree(table, twin)
    doctor(table, ["deletionVectors"])
    doctor(twin, ["deletionVectors", "v2Checkpoint"])
    try:
        read_delta(spark, twin)
        unknown_feature_refused = False
    except IOError:
        unknown_feature_refused = True
    try:
        vacuum_export(spark, table, retain_versions=1)
        vacuum_refused = False
    except IOError:
        vacuum_refused = True
    return (
        read_delta(spark, table)
        .groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _money_sum("o_totalprice", "revenue"),
        )
        .select(
            "priority",
            "n_orders",
            "revenue",
            F.lit(bool(unknown_feature_refused)).alias(
                "unknown_feature_refused"
            ),
            F.lit(bool(vacuum_refused)).alias("vacuum_refused"),
        )
    )


DELTA_DELETION_VECTOR_READ_SQL = """
SELECT o_orderpriority AS priority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2))
           AS revenue,
       TRUE AS unknown_feature_refused,
       TRUE AS vacuum_refused
FROM orders
WHERE o_orderkey % 7 <> 0
GROUP BY o_orderpriority
"""


def delta_crash_recovery_lifecycle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Crash-recovery composition under one hash gate (round 10;
    VERDICT r9 next-step #8 — the stage-reclaim/tombstone proofs were
    pytest-only): compact -> interrupted vacuum -> re-vacuum. A
    catalog gold slice is COMPACTED (4 files -> 1, the maintenance
    path), published to Delta three times with widening date cutoffs,
    then a vacuum is INTERRUPTED mid-flight — simulated as exactly the
    on-disk state ``vacuum_export`` leaves if the process dies right
    after its cutoff checkpoint (checkpoint + pointer written, nothing
    swept), plus the debris a dying exporter leaves: a renamed-but-
    uncommitted ``*.tmp`` data stage and a ``.cp_tmp_*`` checkpoint
    staging dir, both mtime-aged past the 24 h untracked-retention
    guard. The RE-vacuum must complete the interrupted work: correct
    cutoff, crash debris reclaimed, version 0's exclusive files swept
    — and a THIRD vacuum must be a no-op (idempotence: nothing further
    to delete). Hash-gated reads: current + VERSION AS OF the cutoff;
    oracled booleans pin compaction, recovery, idempotence, and the
    below-cutoff refusal."""
    import os
    import time as _time

    from olist_lakehouse_2_0_spark.catalog import Catalog
    from olist_lakehouse_2_0_spark.delta_export import (
        publish_delta,
        read_delta,
        vacuum_export,
        write_checkpoint,
    )
    from olist_lakehouse_2_0_spark.staging import staging_dir

    root = staging_dir("delta_crash_q")
    dest = os.path.join(root, "delta")
    slice_df = load(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        "o_totalprice",
        "o_orderdate",
    ).persist()  # three snapshot publishes fork from this

    # v0, v1: widening cutoffs staged as plain parquet
    for i, cut in enumerate(("1996-01-01", "1999-01-01")):
        stage = os.path.join(root, f"snap{i}")
        slice_df.filter(
            F.col("o_orderdate") < F.lit(cut).cast("timestamp")
        ).coalesce(1).write.parquet(stage)
        publish_delta(spark, stage, dest)
    # v2: the full slice as a CATALOG table, compacted first —
    # repartition(n) is round-robin, so exactly 4 non-empty files
    cat = Catalog(root=os.path.join(root, "cat"))
    gold = cat.path_for("gold_cr")
    slice_df.repartition(4).write.parquet(gold)
    cat.register("gold_cr", gold)
    before, after = cat.compact(
        spark, "gold_cr", target_file_bytes=1 << 40
    )
    compact_ok = before == 4 and after == 1
    publish_delta(spark, gold, dest)
    slice_df.unpersist(blocking=False)

    # INTERRUPT: the state a vacuum(retain=2) leaves if it dies right
    # after phase one — cutoff checkpoint + pointer, nothing swept —
    # plus aged crash debris from a dying exporter
    write_checkpoint(spark, dest, 1)
    old = _time.time() - 25 * 3600
    tmp_stage = os.path.join(dest, "crash.parquet.deadbeef.tmp")
    with open(tmp_stage, "wb") as fh:
        fh.write(b"partial copy")
    os.utime(tmp_stage, (old, old))
    cp_stage = os.path.join(dest, "_delta_log", ".cp_tmp_99")
    os.makedirs(cp_stage)
    with open(os.path.join(cp_stage, "part-0"), "wb") as fh:
        fh.write(b"partial checkpoint")
    os.utime(os.path.join(cp_stage, "part-0"), (old, old))
    os.utime(cp_stage, (old, old))

    res2 = vacuum_export(spark, dest, retain_versions=2)
    recovery_ok = (
        res2["cutoff"] == 1
        and res2["data_files_deleted"] >= 1  # v0's exclusive file
        and res2["stage_files_deleted"] >= 2  # both debris items
        and not os.path.exists(tmp_stage)
        and not os.path.exists(cp_stage)
    )
    res3 = vacuum_export(spark, dest, retain_versions=2)
    revacuum_noop = (
        res3["cutoff"] == 1
        and res3["data_files_deleted"] == 0
        and res3["stage_files_deleted"] == 0
        and res3["commits_deleted"] == 0
    )
    try:
        read_delta(spark, dest, version=0)
        below_cutoff_raises = False
    except IOError:
        below_cutoff_raises = True

    def rollup(df: DataFrame, tag: str) -> DataFrame:
        return (
            df.groupBy("priority")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                _money_sum("o_totalprice", "revenue"),
            )
            .select(
                F.lit(tag).alias("snapshot"),
                "priority",
                "n_orders",
                "revenue",
                F.lit(bool(compact_ok)).alias("compact_ok"),
                F.lit(bool(recovery_ok)).alias("recovery_ok"),
                F.lit(bool(revacuum_noop)).alias("revacuum_noop"),
                F.lit(bool(below_cutoff_raises)).alias(
                    "below_cutoff_raises"
                ),
            )
        )

    return rollup(read_delta(spark, dest, version=1), "v1").unionAll(
        rollup(read_delta(spark, dest), "current")
    )


DELTA_CRASH_RECOVERY_LIFECYCLE_SQL = """
WITH r AS (
  SELECT o_orderpriority AS priority,
         COUNT(*) FILTER (WHERE o_orderdate < TIMESTAMP '1999-01-01')
             AS n1,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
              FILTER (WHERE o_orderdate < TIMESTAMP '1999-01-01')
              AS DECIMAL(18,2)) AS rev1,
         COUNT(*) AS n_all,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
              AS DECIMAL(18,2)) AS rev_all
  FROM orders
  GROUP BY o_orderpriority
)
SELECT 'v1' AS snapshot, priority, n1 AS n_orders, rev1 AS revenue,
       TRUE AS compact_ok, TRUE AS recovery_ok, TRUE AS revacuum_noop,
       TRUE AS below_cutoff_raises
FROM r WHERE n1 > 0
UNION ALL
SELECT 'current', priority, n_all, rev_all, TRUE, TRUE, TRUE, TRUE
FROM r
"""


def dq_aggregate_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-level (aggregate) expectation gate under the hash gate
    (previously pytest-only): row-count bounds, null share, domain
    totals, and a value band evaluate in ONE aggregation job via
    ``aggregate_gate_report``, returning the gate's decision relation
    (the table-level extension of the reference's ON VIOLATION FAIL
    UPDATE ladder, reference docs/ARCHITECTURE.md:137-141).
    The check mix guarantees both outcomes appear — the strict price
    cap fails at every scale factor (the corpus has orders above
    100k), so the blocking path is hash-verified alongside the clean
    passes. pytest covers ``enforce_aggregate``'s raise; this covers
    the decision table."""
    from olist_lakehouse_2_0_spark.operators.expectations import (
        aggregate_gate_report,
    )

    orders = load(spark, sf_dir, "orders")
    checks = {
        "row_count_min": F.count(F.lit(1)) >= 1,
        "orderkey_never_null": F.sum(F.col("o_orderkey").isNull().cast("int"))
        == 0,
        "status_in_domain": F.sum(
            (~F.col("o_orderstatus").isin("O", "F", "P")).cast("int")
        )
        == 0,
        "price_cap_strict": F.max("o_totalprice") <= 100000,
        "avg_price_band": (F.avg("o_totalprice") >= 1000)
        & (F.avg("o_totalprice") <= 500000),
    }
    return aggregate_gate_report(orders, checks)


DQ_AGGREGATE_GATE_SQL = """
WITH a AS (
  SELECT COUNT(*) AS cnt,
         SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS nul,
         SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS bad,
         MAX(o_totalprice) AS maxp,
         AVG(o_totalprice) AS avgp
  FROM orders
), checks AS (
  SELECT 'row_count_min' AS rule, COALESCE(cnt >= 1, FALSE) AS passed FROM a
  UNION ALL
  SELECT 'orderkey_never_null', COALESCE(nul = 0, FALSE) FROM a
  UNION ALL
  SELECT 'status_in_domain', COALESCE(bad = 0, FALSE) FROM a
  UNION ALL
  SELECT 'price_cap_strict', COALESCE(maxp <= 100000, FALSE) FROM a
  UNION ALL
  SELECT 'avg_price_band',
         COALESCE(avgp >= 1000 AND avgp <= 500000, FALSE) FROM a
)
SELECT rule, passed, NOT passed AS gate_blocks FROM checks
"""


#: One SQL text, two engines: the SQL ENTRY POINT (catalog.run_sql over
#: registered views) is exercised by handing Spark the very string the
#: DuckDB oracle runs — the query surface itself is the thing under
#: test, so any divergence between the registered-view path and a
#: native scan fails the hash. ANSI subset only (JOIN/GROUP BY/window
#: ROW_NUMBER/decimal casts) so both engines parse it unmodified.
SQL_ENTRY_REVENUE_SQL = """
SELECT n_name, priority, n_orders, revenue, priority_rank
FROM (
  SELECT n.n_name AS n_name,
         o.o_orderpriority AS priority,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2))
             AS revenue,
         ROW_NUMBER() OVER (
             PARTITION BY n.n_name
             ORDER BY COUNT(*) DESC, o.o_orderpriority
         ) AS priority_rank
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name, o.o_orderpriority
) ranked
WHERE priority_rank <= 2
"""


def sql_entry_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL entry point under the hash gate (previously pytest-only):
    the exact oracle SQL text is executed through ``catalog.run_sql``
    (register testdata views, ``spark.sql``), covering view
    registration, the SQL parser surface, and window-over-aggregate
    planning. Catalyst broadcast-joins both dims and computes
    ROW_NUMBER over the aggregated relation — same plan the DataFrame
    twin ``revenue_by_nation`` gets, reached through the SQL door."""
    from olist_lakehouse_2_0_spark.catalog import run_sql

    return run_sql(spark, sf_dir, SQL_ENTRY_REVENUE_SQL)


def pipeline_event_log_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline event log under the hash gate (previously pytest-only;
    the engine-side analogue of the reference platform's
    ``event_log(TABLE(...))`` relation, reference
    docs/DEPLOYMENT.md:185-195 and ORCHESTRATION_GUIDE.md:414): a
    two-node MV pipeline (silver projection with WARN + DROP
    expectations, gold rollup) runs with ``event_log_path`` set, and
    the log is read back projecting its DETERMINISTIC columns — node,
    layer, materialization, status, and the per-rule violation counts
    recorded in metrics_json. The oracle re-derives the silver WARN
    count from orders directly, so the log's metrics payload is
    value-verified, not just schema-checked (durations/timestamps are
    projected out — wall-clock has no oracle form)."""
    import os

    from olist_lakehouse_2_0_spark.catalog import Catalog
    from olist_lakehouse_2_0_spark.operators.expectations import (
        expect,
        expect_or_drop,
    )
    from olist_lakehouse_2_0_spark.plans.pipeline import Pipeline, TableDef
    from olist_lakehouse_2_0_spark.staging import staging_dir

    orders = load(spark, sf_dir, "orders")
    root = staging_dir("event_log_q")
    log_path = os.path.join(root, "event_log")
    nodes = [
        TableDef(
            name="silver_orders",
            inputs=("orders_src",),
            build=lambda ins: ins["orders_src"].select(
                "o_orderkey", "o_orderstatus", "o_totalprice"
            ),
            expectations=[
                expect("price_moderate", F.col("o_totalprice") <= 50000),
                expect_or_drop(
                    "status_known",
                    F.col("o_orderstatus").isin("O", "F", "P"),
                ),
            ],
            layer="silver",
        ),
        TableDef(
            name="gold_order_counts",
            inputs=("silver_orders",),
            build=lambda ins: ins["silver_orders"]
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n")),
            layer="gold",
        ),
    ]
    pipe = Pipeline(
        "event_log_audit", Catalog(root=os.path.join(root, "lake")), nodes
    )
    pipe.run(
        spark,
        external_inputs={"orders_src": orders},
        event_log_path=log_path,
    )
    log = spark.read.parquet(log_path)
    return log.select(
        F.col("table").alias("node"),
        "layer",
        "materialization",
        "status",
        F.get_json_object("metrics_json", "$.price_moderate")
        .cast("long")
        .alias("warn_violations"),
        F.get_json_object("metrics_json", "$.status_known")
        .cast("long")
        .alias("drop_violations"),
    )


PIPELINE_EVENT_LOG_AUDIT_SQL = """
SELECT 'silver_orders' AS node, 'silver' AS layer,
       'materialized_view' AS materialization, 'written' AS status,
       (SELECT CAST(SUM(CASE WHEN NOT COALESCE(o_totalprice <= 50000, FALSE)
                             THEN 1 ELSE 0 END) AS BIGINT) FROM orders)
           AS warn_violations,
       (SELECT CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                             THEN 1 ELSE 0 END) AS BIGINT) FROM orders)
           AS drop_violations
UNION ALL
SELECT 'gold_order_counts', 'gold', 'materialized_view', 'written',
       NULL, NULL
"""


def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-style MERGE INTO under the hash gate (round 5; VERDICT r4
    "What's missing" #1 — the reference's Delta storage gives its users
    MERGE, reference README.md:302-308): a versioned gold table seeded
    with 3/4 of orders takes a CDC-shaped source (every even orderkey,
    price doubled) through the full three-clause ladder — WHEN MATCHED
    AND source says 'F' THEN DELETE, WHEN MATCHED THEN UPDATE (price
    only), WHEN NOT MATCHED THEN INSERT — via ``Catalog.merge_into``
    (one full-outer-join plan + CAS promote). The oracle recomputes the
    post-merge relation in pure SQL; grouping by (status, key mod 7)
    makes the hash sensitive to any row routed through the wrong
    clause."""
    import os

    from olist_lakehouse_2_0_spark.catalog import Catalog
    from olist_lakehouse_2_0_spark.staging import staging_dir

    orders = load(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast(MONEY)
    target = orders.filter(F.col("o_orderkey") % 4 != 0).select(
        "o_orderkey", "o_orderstatus", price.alias("price")
    )
    source = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        (price * 2).cast(MONEY).alias("price"),
    )
    cat = Catalog(root=os.path.join(staging_dir("merge_q"), "warehouse"))
    cat.write_versioned(target, spark, "orders_merged", layer="gold")
    cat.merge_into(
        spark,
        source,
        "orders_merged",
        ["o_orderkey"],
        layer="gold",
        matched_delete_condition=F.col("s.o_orderstatus") == "F",
        update_set={"price": F.col("s.price")},
    )
    merged = cat.read(spark, "orders_merged", layer="gold")
    return (
        merged.groupBy(
            "o_orderstatus", (F.col("o_orderkey") % 7).alias("key_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("price").cast(MONEY_SUM).alias("total_price"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
        .orderBy("o_orderstatus", "key_bucket")
    )


MERGE_UPSERT_ORDERS_SQL = """
WITH target AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(o_totalprice AS DECIMAL(12,2)) AS price
  FROM orders WHERE o_orderkey % 4 <> 0
), source AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 2 AS DECIMAL(12,2)) AS price
  FROM orders WHERE o_orderkey % 2 = 0
), merged AS (
  SELECT t.o_orderkey, t.o_orderstatus,
         CASE WHEN s.o_orderkey IS NOT NULL THEN s.price ELSE t.price END AS price
  FROM target t LEFT JOIN source s ON t.o_orderkey = s.o_orderkey
  WHERE s.o_orderkey IS NULL OR s.o_orderstatus <> 'F'
  UNION ALL
  SELECT s.o_orderkey, s.o_orderstatus, s.price
  FROM source s LEFT JOIN target t ON s.o_orderkey = t.o_orderkey
  WHERE t.o_orderkey IS NULL
)
SELECT o_orderstatus,
       o_orderkey % 7 AS key_bucket,
       COUNT(*) AS n_rows,
       CAST(SUM(price) AS DECIMAL(18,2)) AS total_price,
       MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key
FROM merged
GROUP BY o_orderstatus, o_orderkey % 7
ORDER BY o_orderstatus, key_bucket
"""


def merge_concurrent_writers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimistic-concurrency MERGE under the hash gate (round 5): two
    writers race on a versioned customer table — writer A stages a
    merge computed from a STALE read of v1, writer B commits v2 first,
    A's compare-and-swap promote raises ConcurrentWriteError (the
    Delta ConcurrentAppendException analogue), and A's proper
    ``merge_into`` retry recomputes against v2. BOTH updates must
    survive (lost-update prevention): keys % 5 == 0 get +100 from B,
    keys % 7 == 0 get orig*2 from A, A winning on the overlap because
    it committed last. The oracle computes the final state straight
    from ``customer`` with a CASE; the conflict/version booleans are
    oracled constants that only pass when the race played out exactly
    as designed."""
    import os

    from olist_lakehouse_2_0_spark.catalog import Catalog, ConcurrentWriteError
    from olist_lakehouse_2_0_spark.operators.merge import merge_frames
    from olist_lakehouse_2_0_spark.staging import staging_dir

    customer = load(spark, sf_dir, "customer")
    bal = F.col("c_acctbal").cast(MONEY)
    base_tbl = customer.select("c_custkey", "c_mktsegment", bal.alias("bal"))
    b_src = (
        base_tbl.filter(F.col("c_custkey") % 5 == 0)
        .select("c_custkey", (F.col("bal") + 100).cast(MONEY).alias("bal"))
    )
    a_src = (
        base_tbl.filter(F.col("c_custkey") % 7 == 0)
        .select("c_custkey", (F.col("bal") * 2).cast(MONEY).alias("bal"))
    )
    cat = Catalog(root=os.path.join(staging_dir("merge_race_q"), "warehouse"))
    cat.write_versioned(base_tbl, spark, "cust", layer="gold")

    # Writer A reads v1 and stages its merge, but does not promote yet.
    v1 = cat.latest_version_number(spark, "cust", layer="gold")
    stale = merge_frames(
        cat.read_version(spark, "cust", v1, layer="gold"),
        a_src,
        ["c_custkey"],
        update_set={"bal": F.col("s.bal")},
        insert_when_not_matched=False,
    )
    cat.stage_version(stale, "cust", layer="gold", token="stale-a")
    # Writer B commits first.
    cat.merge_into(
        spark, b_src, "cust", ["c_custkey"], layer="gold",
        update_set={"bal": F.col("s.bal")}, insert_when_not_matched=False,
    )
    conflict_detected = False
    try:
        cat.promote_version(
            spark, "cust", layer="gold", expected_version=v1, token="stale-a"
        )
    except ConcurrentWriteError:
        conflict_detected = True
    # Writer A retries through the proper optimistic loop.
    cat.merge_into(
        spark, a_src, "cust", ["c_custkey"], layer="gold",
        update_set={"bal": F.col("s.bal")}, insert_when_not_matched=False,
    )
    final = cat.read(spark, "cust", layer="gold")
    latest = cat.latest_version_number(spark, "cust", layer="gold")
    return (
        final.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("bal").cast(MONEY_SUM).alias("total_bal"),
        )
        .withColumn("conflict_detected", F.lit(conflict_detected))
        .withColumn("both_commits_landed", F.lit(latest == 3))
        .orderBy("c_mktsegment")
    )


MERGE_CONCURRENT_WRITERS_SQL = """
SELECT c_mktsegment,
       COUNT(*) AS n_customers,
       CAST(SUM(CASE
         WHEN c_custkey % 7 = 0
           THEN CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 2 AS DECIMAL(12,2))
         WHEN c_custkey % 5 = 0
           THEN CAST(CAST(c_acctbal AS DECIMAL(12,2)) + 100 AS DECIMAL(12,2))
         ELSE CAST(c_acctbal AS DECIMAL(12,2))
       END) AS DECIMAL(18,2)) AS total_bal,
       TRUE AS conflict_detected,
       TRUE AS both_commits_landed
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def cdf_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed analogue under the hash gate (round 5; Delta's
    ``table_changes`` — the reference's Delta storage exposes CDF,
    reference README.md:302-308): a versioned gold table goes through
    an ``UPDATE ... WHERE`` (every 'O' order's price +10, CAS-committed
    copy-on-write) then a ``DELETE ... WHERE`` (orderkey % 10 == 3),
    and ``Catalog.table_changes(v1 -> v3)`` reconstructs the net row
    diff — updates surfacing as delete-preimage + insert-postimage
    pairs, deletes as bare deletes, untouched rows absent. The oracle
    re-derives the expected change set straight from ``orders``; any
    phantom/missing/misclassified change row shifts a (change_type,
    status) count or price mass and fails the hash."""
    import os

    from olist_lakehouse_2_0_spark.catalog import Catalog
    from olist_lakehouse_2_0_spark.staging import staging_dir

    orders = load(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast(MONEY).alias("price"),
    )
    cat = Catalog(root=os.path.join(staging_dir("cdf_q"), "warehouse"))
    cat.write_versioned(base, spark, "t", layer="gold", keep=3)
    cat.update_where(
        spark, "t",
        F.col("o_orderstatus") == "O",
        {"price": F.col("price") + 10},
        layer="gold", keep=3,
    )
    cat.delete_where(
        spark, "t", F.col("o_orderkey") % 10 == 3, layer="gold", keep=3
    )
    changes = cat.table_changes(spark, "t", 1, 3, layer="gold")
    return (
        changes.groupBy("_change_type", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("price").cast(MONEY_SUM).alias("price_mass"),
        )
        .orderBy("_change_type", "o_orderstatus")
    )


CDF_TABLE_CHANGES_SQL = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(o_totalprice AS DECIMAL(12,2)) AS price
  FROM orders
), changes AS (
  SELECT o_orderkey, o_orderstatus, price, 'delete' AS _change_type
  FROM base WHERE o_orderstatus = 'O' OR o_orderkey % 10 = 3
  UNION ALL
  SELECT o_orderkey, o_orderstatus,
         CAST(price + 10 AS DECIMAL(12,2)) AS price,
         'insert' AS _change_type
  FROM base WHERE o_orderstatus = 'O' AND o_orderkey % 10 <> 3
)
SELECT _change_type, o_orderstatus,
       COUNT(*) AS n_rows,
       CAST(SUM(price) AS DECIMAL(18,2)) AS price_mass
FROM changes
GROUP BY _change_type, o_orderstatus
ORDER BY _change_type, o_orderstatus
"""


def daily_job_event_log_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The run.py daily-job event log under the hash gate (VERDICT r5
    next-step #5a): one full orchestrated run — generate synthetic
    landing CSVs, then the main medallion pipeline (streaming bronze ->
    DROP-expectation silver -> gold MV) in parallel with the CDC
    pipeline (contract-validated SCD1 apply) — lands in a fresh staging
    warehouse, and the audit relation joins each event-log row with the
    ROW COUNT of the table that node wrote. Every value is
    deterministic: the generator is seedless-hash-based (xxhash64 of
    spark.range ids — partitioning-independent), so for the pinned
    (n_orders=400, n_cdc=200) job the DQ injection drops exactly 5
    silver rows, the CDC feed touches exactly 75 entities, and the
    gold rollup has exactly 5 statuses. The oracle states the expected
    relation as literals derived from that generator contract — a
    drift anywhere (a lost event-log row, a DROP expectation not
    dropping, the CDC apply miscounting, the parallel tasks racing the
    log append) changes a value and fails the hash. Durations and
    timestamps are projected out (no oracle form). Deliberately
    sf-independent: the job's landing feed is synthetic, the operator
    under test is the orchestration itself."""
    import os
    import sys

    from olist_lakehouse_2_0_spark.staging import staging_dir

    # run.py lives at the repo root (it IS the CLI under test).
    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    if repo_root not in sys.path:
        sys.path.insert(0, repo_root)
    import run as runner

    warehouse = staging_dir("daily_job_q")
    summary = runner.run_job(
        spark, warehouse, mode="daily", n_orders=400, n_cdc=200
    )
    log = spark.read.parquet(summary["event_log"]).select(
        "pipeline", F.col("table").alias("node"), "layer",
        "materialization", "status",
        F.get_json_object("metrics_json", "$.validated_rows")
        .cast("long")
        .alias("validated_rows"),
    )
    # Pure-JVM counts frame (a union of one-row aggregates), not a
    # createDataFrame local relation — Python-backed relations pay a
    # Python-worker round trip per downstream action (measured ~0.4-4 s).
    from functools import reduce

    counts = reduce(
        DataFrame.unionByName,
        [
            spark.read.parquet(path)
            .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
            .select(F.lit(node).alias("node"), "n_rows")
            for node, path in sorted(summary["written"].items())
        ],
    )
    return log.join(counts, "node").select(
        "pipeline", "node", "layer", "materialization", "status",
        "n_rows", "validated_rows",
    ).orderBy("pipeline", "node")


DAILY_JOB_EVENT_LOG_ROLLUP_SQL = """
SELECT * FROM (VALUES
  ('daily_cdc',  'customers_scd1',     'silver', 'materialized_view',
   'written', CAST(75 AS BIGINT),  CAST(200 AS BIGINT)),
  ('daily_main', 'bronze_orders',      'bronze', 'streaming_table',
   'written', CAST(400 AS BIGINT), CAST(NULL AS BIGINT)),
  ('daily_main', 'gold_status_counts', 'gold',   'materialized_view',
   'written', CAST(5 AS BIGINT),   CAST(NULL AS BIGINT)),
  ('daily_main', 'silver_orders',      'silver', 'streaming_table',
   'written', CAST(395 AS BIGINT), CAST(NULL AS BIGINT))
) AS t(pipeline, node, layer, materialization, status, n_rows,
       validated_rows)
ORDER BY pipeline, node
"""


def analyze_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``Catalog.analyze`` column statistics under the hash gate
    (VERDICT r5 next-step #5b): the events table is saved to the
    session catalog, analyzed FOR COLUMNS (the one-pass path — table
    stats piggyback on the column scan), and the recorded statistics
    are read back through DESCRIBE EXTENDED into a typed relation the
    oracle recomputes from the raw table: rowCount, per-column
    num_nulls, and min/max (parsed back to their native types — no
    string-format coupling). NDV is HyperLogLog++-approximate by
    design, so it is gated as a deterministic INVARIANT instead
    (within 10% of the exact distinct count, measured 1.5-2.2% off);
    the CBO plan flip this feeds is pinned in tests/test_plans.py."""
    import zlib as _zlib

    tbl = "ev_stats_%08x" % _zlib.crc32(
        __import__("os").path.normpath(sf_dir).encode()
    )
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    spark.sql(f"DROP TABLE IF EXISTS `{tbl}`")
    # A managed-table directory orphaned by an earlier PROCESS (the
    # in-memory catalog is gone, the warehouse dir persists) fails
    # saveAsTable with LOCATION_ALREADY_EXISTS — same hazard and same
    # fix as Catalog.write_bucketed's orphan cleanup.
    wh = spark.conf.get("spark.sql.warehouse.dir")
    _, HPath, fs = _fs(spark, wh)
    loc = HPath(wh, tbl.lower())
    if fs.exists(loc):
        fs.delete(loc, True)
    ev.write.mode("overwrite").saveAsTable(tbl)
    from olist_lakehouse_2_0_spark.catalog import Catalog

    Catalog.analyze(spark, tbl, columns=["user_id", "ts", "event_type"])
    row_count = None
    for r in spark.sql(f"DESCRIBE TABLE EXTENDED `{tbl}`").collect():
        if r.col_name == "Statistics":
            row_count = int(r.data_type.split(",")[1].strip().split(" ")[0])
    # All three exact NDVs in ONE aggregation job (guide §1.2/§2.3:
    # one pass, map-side partials via Expand) instead of three separate
    # scans — the values are identical, only the job count changes.
    ndv_row = ev.agg(
        F.countDistinct("user_id").alias("user_id"),
        F.countDistinct("ts").alias("ts"),
        F.countDistinct("event_type").alias("event_type"),
    ).first()
    exact_ndv = {
        "user_id": ndv_row["user_id"],
        "ts": ndv_row["ts"],
        "event_type": ndv_row["event_type"],
    }
    rows = []
    for c in ["event_type", "ts", "user_id"]:
        info = {
            r.info_name: r.info_value
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED `{tbl}` {c}").collect()
        }
        ndv = int(info["distinct_count"])
        ndv_ok = abs(ndv - exact_ndv[c]) <= 0.10 * max(1, exact_ndv[c])
        rows.append((
            c,
            row_count,
            int(info["num_nulls"]),
            int(info["min"]) if c == "user_id" else None,
            int(info["max"]) if c == "user_id" else None,
            info["min"] if c == "ts" else None,
            info["max"] if c == "ts" else None,
            bool(ndv_ok),
        ))
    from olist_lakehouse_2_0_spark.localrel import arrow_local_relation

    out = arrow_local_relation(
        spark,
        rows,
        "column_name string, row_count long, num_nulls long, "
        "min_long long, max_long long, __min_s string, __max_s string, "
        "ndv_ok boolean",
    )
    return out.select(
        "column_name", "row_count", "num_nulls", "min_long", "max_long",
        F.col("__min_s").cast("timestamp_ntz").alias("min_ts"),
        F.col("__max_s").cast("timestamp_ntz").alias("max_ts"),
        "ndv_ok",
    ).orderBy("column_name")


ANALYZE_TABLE_STATS_SQL = """
WITH t AS (
  SELECT COUNT(*) AS rc,
         SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS nu,
         SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS nt,
         SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS ne,
         MIN(user_id) AS minu, MAX(user_id) AS maxu,
         MIN(ts) AS mints, MAX(ts) AS maxts
  FROM events
)
SELECT * FROM (
  SELECT 'event_type' AS column_name, rc AS row_count,
         CAST(ne AS BIGINT) AS num_nulls,
         CAST(NULL AS BIGINT) AS min_long, CAST(NULL AS BIGINT) AS max_long,
         CAST(NULL AS TIMESTAMP) AS min_ts, CAST(NULL AS TIMESTAMP) AS max_ts,
         TRUE AS ndv_ok
  FROM t
  UNION ALL
  SELECT 'ts', rc, CAST(nt AS BIGINT), NULL, NULL, mints, maxts, TRUE FROM t
  UNION ALL
  SELECT 'user_id', rc, CAST(nu AS BIGINT), minu, maxu, NULL, NULL, TRUE
  FROM t
)
ORDER BY column_name
"""


RELATIONAL_QUERIES = {
    "daily_orders": daily_orders,
    "monthly_orders_lag": monthly_orders_lag,
    "orders_by_state": orders_by_state,
    "orders_enriched": orders_enriched,
    "seller_performance": seller_performance,
    "category_performance_lag": category_performance_lag,
    "geo_dedup": geo_dedup,
    "silver_cleanse": silver_cleanse,
    "scalar_function_matrix": scalar_function_matrix,
    "datetime_function_matrix": datetime_function_matrix,
    "top_parts_per_brand": top_parts_per_brand,
    "valid_orders_filter": valid_orders_filter,
    "dq_violation_summary": dq_violation_summary,
    "dq_drop_quarantine": dq_drop_quarantine,
    "dq_fail_gate_violations": dq_fail_gate_violations,
    "top_revenue_orders": top_revenue_orders,
    "mv_csv_roundtrip": mv_csv_roundtrip,
    "zorder_pruned_revenue": zorder_pruned_revenue,
    "clustered_pruned_revenue": clustered_pruned_revenue,
    "bucketed_segment_revenue": bucketed_segment_revenue,
    "schema_evolution_metrics": schema_evolution_metrics,
    "partition_overwrite_gold": partition_overwrite_gold,
    "compaction_roundtrip_metrics": compaction_roundtrip_metrics,
    "mv_time_travel_metrics": mv_time_travel_metrics,
    "delta_export_roundtrip": delta_export_roundtrip,
    "delta_convert_publish_history": delta_convert_publish_history,
    "delta_column_mapping_read": delta_column_mapping_read,
    "delta_partitioned_vacuum_lifecycle": delta_partitioned_vacuum_lifecycle,
    "delta_deletion_vector_read": delta_deletion_vector_read,
    "delta_crash_recovery_lifecycle": delta_crash_recovery_lifecycle,
    "dq_aggregate_gate": dq_aggregate_gate,
    "sql_entry_revenue": sql_entry_revenue,
    "pipeline_event_log_audit": pipeline_event_log_audit,
    "daily_job_event_log_rollup": daily_job_event_log_rollup,
    "analyze_table_stats": analyze_table_stats,
    "merge_upsert_orders": merge_upsert_orders,
    "merge_concurrent_writers": merge_concurrent_writers,
    "cdf_table_changes": cdf_table_changes,
}


RELATIONAL_ORACLES = {
    "daily_orders": DAILY_ORDERS_SQL,
    "monthly_orders_lag": MONTHLY_ORDERS_LAG_SQL,
    "orders_by_state": ORDERS_BY_STATE_SQL,
    "orders_enriched": ORDERS_ENRICHED_SQL,
    "seller_performance": SELLER_PERFORMANCE_SQL,
    "category_performance_lag": CATEGORY_PERFORMANCE_LAG_SQL,
    "geo_dedup": GEO_DEDUP_SQL,
    "silver_cleanse": SILVER_CLEANSE_SQL,
    "scalar_function_matrix": SCALAR_FUNCTION_MATRIX_SQL,
    "datetime_function_matrix": DATETIME_FUNCTION_MATRIX_SQL,
    "top_parts_per_brand": TOP_PARTS_PER_BRAND_SQL,
    "valid_orders_filter": VALID_ORDERS_FILTER_SQL,
    "dq_violation_summary": DQ_VIOLATION_SUMMARY_SQL,
    "dq_drop_quarantine": DQ_DROP_QUARANTINE_SQL,
    "dq_fail_gate_violations": DQ_FAIL_GATE_VIOLATIONS_SQL,
    "top_revenue_orders": TOP_REVENUE_ORDERS_SQL,
    "mv_csv_roundtrip": MV_CSV_ROUNDTRIP_SQL,
    "zorder_pruned_revenue": ZORDER_PRUNED_REVENUE_SQL,
    "clustered_pruned_revenue": CLUSTERED_PRUNED_REVENUE_SQL,
    "bucketed_segment_revenue": BUCKETED_SEGMENT_REVENUE_SQL,
    "schema_evolution_metrics": SCHEMA_EVOLUTION_METRICS_SQL,
    "partition_overwrite_gold": PARTITION_OVERWRITE_GOLD_SQL,
    "compaction_roundtrip_metrics": COMPACTION_ROUNDTRIP_SQL,
    "mv_time_travel_metrics": MV_TIME_TRAVEL_SQL,
    "delta_export_roundtrip": DELTA_EXPORT_ROUNDTRIP_SQL,
    "delta_convert_publish_history": DELTA_CONVERT_PUBLISH_HISTORY_SQL,
    "delta_column_mapping_read": DELTA_COLUMN_MAPPING_READ_SQL,
    "delta_partitioned_vacuum_lifecycle":
        DELTA_PARTITIONED_VACUUM_LIFECYCLE_SQL,
    "delta_deletion_vector_read": DELTA_DELETION_VECTOR_READ_SQL,
    "delta_crash_recovery_lifecycle":
        DELTA_CRASH_RECOVERY_LIFECYCLE_SQL,
    "dq_aggregate_gate": DQ_AGGREGATE_GATE_SQL,
    "sql_entry_revenue": SQL_ENTRY_REVENUE_SQL,
    "pipeline_event_log_audit": PIPELINE_EVENT_LOG_AUDIT_SQL,
    "daily_job_event_log_rollup": DAILY_JOB_EVENT_LOG_ROLLUP_SQL,
    "analyze_table_stats": ANALYZE_TABLE_STATS_SQL,
    "merge_upsert_orders": MERGE_UPSERT_ORDERS_SQL,
    "merge_concurrent_writers": MERGE_CONCURRENT_WRITERS_SQL,
    "cdf_table_changes": CDF_TABLE_CHANGES_SQL,
}
