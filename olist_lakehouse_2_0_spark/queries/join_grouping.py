"""Join-shape and grouping-set coverage the reference never exercises.

The reference's joins are inner/left equi-joins only and its grouping
is plain GROUP BY (SURVEY.md §2.3, §2.4). A complete engine also needs
full-outer alignment, explicit cross joins, CUBE grouping sets, the
positional window family (first/last/nth value), and similarity
self-joins with blocking. Each query here has a DuckDB oracle twin.

Scale notes (100 TB design):
- ``daily_channel_full_outer`` aligns two independently-aggregated
  daily series; both sides collapse to #days rows before the full
  outer join, so the join input is thousands of rows regardless of
  fact-table size.
- ``priority_region_matrix`` cross-joins two tiny dimensions (5×5) to
  build the dense result frame, then LEFT-joins the aggregated facts
  onto it — the cross join never touches fact-table cardinality.
- ``orders_cube`` computes all four grouping sets in one shuffle
  (Spark expands CUBE map-side, same as ROLLUP).
- ``segment_spend_extremes`` runs positional window functions over an
  explicit UNBOUNDED..UNBOUNDED frame; input is one row per customer
  (post-aggregation), partitioned by segment.
- ``similar_name_pairs`` is entity-resolution blocking: the O(n²)
  name-similarity self-join becomes a per-block join on
  (nation, name-prefix) keys, so comparisons are Σ block² with
  bounded blocks, all edit distances computed JVM-side
  (``F.levenshtein``), no Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from olist_lakehouse_2_0_spark.catalog import load
from olist_lakehouse_2_0_spark.fixedpoint import ratio
from olist_lakehouse_2_0_spark.queries.relational import MONEY, MONEY_SUM


# ---------------------------------------------------------------------------
# Full outer join: align two independently-aggregated daily series.
# ---------------------------------------------------------------------------
def daily_channel_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily order activity FULL OUTER JOIN daily event activity on the
    calendar date. The two series cover different date ranges, so both
    null sides of the full outer join are exercised; counts are
    zero-filled."""
    orders = load(spark, sf_dir, "orders")
    events = load(spark, sf_dir, "events")
    daily_orders = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("activity_date")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast(MONEY))
        .cast(MONEY_SUM)
        .alias("order_revenue"),
    )
    daily_events = events.groupBy(
        F.col("ts").cast("date").alias("activity_date")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return daily_orders.join(daily_events, "activity_date", "full_outer").select(
        "activity_date",
        F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
        F.coalesce(F.col("order_revenue"), F.lit(0).cast(MONEY_SUM)).alias(
            "order_revenue"
        ),
        F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
    )


DAILY_CHANNEL_FULL_OUTER_SQL = """
WITH daily_orders AS (
  SELECT CAST(o_orderdate AS DATE) AS activity_date,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2))
           AS order_revenue
  FROM orders
  GROUP BY 1
), daily_events AS (
  SELECT CAST(ts AS DATE) AS activity_date,
         COUNT(*) AS n_events
  FROM events
  GROUP BY 1
)
SELECT activity_date,
       COALESCE(n_orders, 0) AS n_orders,
       COALESCE(order_revenue, CAST(0 AS DECIMAL(18,2))) AS order_revenue,
       COALESCE(n_events, 0) AS n_events
FROM daily_orders FULL OUTER JOIN daily_events USING (activity_date)
"""


# ---------------------------------------------------------------------------
# Cross join: dense dimension matrix with zero-filled fact cells.
# ---------------------------------------------------------------------------
def priority_region_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every (region, order priority) cell with its order count and
    revenue — including zero cells. The dense frame comes from an
    explicit cross join of the two dimensions; facts LEFT-join onto
    it."""
    region = load(spark, sf_dir, "region")
    nation = load(spark, sf_dir, "nation")
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders", spread=True)

    priorities = orders.select(
        F.col("o_orderpriority").alias("priority")
    ).distinct()
    matrix = region.select(F.col("r_name").alias("region")).crossJoin(
        priorities
    )

    facts = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            orders.o_custkey == customer.c_custkey,
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(region.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy(
            F.col("r_name").alias("region"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(MONEY))
            .cast(MONEY_SUM)
            .alias("revenue"),
        )
    )
    return matrix.join(facts, ["region", "priority"], "left").select(
        "region",
        "priority",
        F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
        F.coalesce(F.col("revenue"), F.lit(0).cast(MONEY_SUM)).alias("revenue"),
    )


PRIORITY_REGION_MATRIX_SQL = """
WITH matrix AS (
  SELECT r.r_name AS region, p.priority
  FROM region r
  CROSS JOIN (SELECT DISTINCT o_orderpriority AS priority FROM orders) p
), facts AS (
  SELECT r.r_name AS region,
         o.o_orderpriority AS priority,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2))
           AS revenue
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY 1, 2
)
SELECT m.region,
       m.priority,
       COALESCE(f.n_orders, 0) AS n_orders,
       COALESCE(f.revenue, CAST(0 AS DECIMAL(18,2))) AS revenue
FROM matrix m LEFT JOIN facts f USING (region, priority)
"""


# ---------------------------------------------------------------------------
# CUBE grouping sets: all four (status, priority) marginals in one pass.
# ---------------------------------------------------------------------------
def orders_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order counts/revenue by CUBE (status, priority): per-cell,
    per-status, per-priority, and grand total — four grouping sets,
    one shuffle."""
    orders = load(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_totalprice").cast(MONEY).alias("price"),
    )
    # avg in exact integer cents (see fixedpoint).
    return (
        base.cube("status", "priority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("price").cast(MONEY_SUM).alias("revenue"),
            F.sum((F.col("price") * 100).cast("long")).alias("__cents"),
            F.count("price").alias("__cnt"),
        )
        .withColumn(
            "avg_order_value",
            ratio("__cents", "__cnt", 10000).cast("double") / F.lit(1e6),
        )
        .drop("__cents", "__cnt")
    )


ORDERS_CUBE_SQL = """
WITH g AS (
  SELECT o_orderstatus AS status,
         o_orderpriority AS priority,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS revenue,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS cents,
         COUNT(o_totalprice) AS cnt
  FROM orders
  GROUP BY CUBE (o_orderstatus, o_orderpriority)
)
SELECT status, priority, n_orders, revenue,
       CAST((cents // NULLIF(cnt, 0)) * 10000
            + (2 * (cents % NULLIF(cnt, 0)) * 10000 + cnt)
              // NULLIF(2 * cnt, 0) AS DOUBLE) / 1e6
         AS avg_order_value
FROM g
"""


# ---------------------------------------------------------------------------
# Positional window functions over an explicit full-partition frame.
# ---------------------------------------------------------------------------
def segment_spend_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per market segment: the top, runner-up and bottom customer by
    lifetime spend via first_value / nth_value / last_value over an
    UNBOUNDED PRECEDING..UNBOUNDED FOLLOWING frame."""
    orders = load(spark, sf_dir, "orders", spread=True)
    customer = load(spark, sf_dir, "customer")
    spend = (
        orders.groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast(MONEY))
            .cast(MONEY_SUM)
            .alias("spend")
        )
        .join(
            customer.select("c_custkey", "c_mktsegment"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
    )
    w = (
        W.partitionBy("c_mktsegment")
        .orderBy(F.desc("spend"), F.asc("o_custkey"))
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return (
        spend.select(
            F.col("c_mktsegment").alias("segment"),
            F.first_value(F.col("o_custkey")).over(w).alias("top_customer"),
            F.nth_value(F.col("o_custkey"), 2).over(w).alias("runner_up"),
            F.last_value(F.col("o_custkey")).over(w).alias("bottom_customer"),
            F.max("spend").over(w).alias("top_spend"),
            F.min("spend").over(w).alias("bottom_spend"),
        )
        .distinct()
    )


SEGMENT_SPEND_EXTREMES_SQL = """
WITH spend AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2))
           AS spend
  FROM orders
  GROUP BY o_custkey
)
SELECT DISTINCT
       c.c_mktsegment AS segment,
       FIRST_VALUE(s.o_custkey) OVER w AS top_customer,
       NTH_VALUE(s.o_custkey, 2) OVER w AS runner_up,
       LAST_VALUE(s.o_custkey) OVER w AS bottom_customer,
       MAX(s.spend) OVER w AS top_spend,
       MIN(s.spend) OVER w AS bottom_spend
FROM spend s
JOIN customer c ON s.o_custkey = c.c_custkey
WINDOW w AS (PARTITION BY c.c_mktsegment
             ORDER BY s.spend DESC, s.o_custkey ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


# ---------------------------------------------------------------------------
# Entity-resolution blocking + JVM edit distance.
# ---------------------------------------------------------------------------
def similar_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer pairs in the same nation whose names are within edit
    distance 1, found by blocking on (nation, 15-char name prefix) so
    the self-join compares only within bounded blocks."""
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nation"),
        F.substring(F.col("c_name"), 1, 15).alias("block"),
    )
    a = cust.select(
        F.col("key").alias("id_a"),
        F.col("name").alias("name_a"),
        "nation",
        "block",
    )
    b = cust.select(
        F.col("key").alias("id_b"),
        F.col("name").alias("name_b"),
        F.col("nation").alias("nation_b"),
        F.col("block").alias("block_b"),
    )
    return (
        a.join(
            b,
            (F.col("nation") == F.col("nation_b"))
            & (F.col("block") == F.col("block_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .withColumn(
            "edit_distance",
            F.levenshtein(F.col("name_a"), F.col("name_b")).cast("long"),
        )
        .filter(F.col("edit_distance") <= 1)
        .select("id_a", "id_b", F.col("nation").alias("nation_key"), "edit_distance")
    )


SIMILAR_NAME_PAIRS_SQL = """
SELECT a.c_custkey AS id_a,
       b.c_custkey AS id_b,
       a.c_nationkey AS nation_key,
       levenshtein(a.c_name, b.c_name) AS edit_distance
FROM customer a
JOIN customer b
  ON a.c_nationkey = b.c_nationkey
 AND SUBSTRING(a.c_name, 1, 15) = SUBSTRING(b.c_name, 1, 15)
 AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 1
"""


# ---------------------------------------------------------------------------
# Distribution histogram (TPC-H Q13 shape): LEFT OUTER join preserving
# zero-match keys, COUNT(col) per key, then a second aggregation over
# the counts themselves.
# ---------------------------------------------------------------------------
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many customers placed 0, 1, 2, … non-urgent orders. The
    outer join keeps customers with no qualifying orders (COUNT(col)
    gives them 0); the histogram re-aggregates the per-customer counts.

    Scale: one shuffle joins orders to customers on the customer key;
    the per-customer aggregate reuses that partitioning, and the final
    histogram is a near-scalar aggregation (cardinality = max order
    count), cheap at any corpus size."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    routine = orders.filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_orderkey", "o_custkey")
    per_customer = (
        customer.select("c_custkey")
        .join(routine, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_customer.groupBy("n_orders").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


CUSTOMER_ORDER_DISTRIBUTION_SQL = """
WITH per_customer AS (
  SELECT c_custkey, COUNT(o_orderkey) AS n_orders
  FROM customer
  LEFT JOIN (
    SELECT o_orderkey, o_custkey FROM orders
    WHERE o_orderpriority <> '1-URGENT'
  ) o ON c_custkey = o_custkey
  GROUP BY c_custkey
)
SELECT n_orders, COUNT(*) AS n_customers
FROM per_customer
GROUP BY n_orders
"""


# ---------------------------------------------------------------------------
# Argmin join-back: earliest row per key via aggregate + equality join
# (the aggregate-then-join-back plan, distinct from the window-argmax
# used in segment_spend_extremes / dedup_canonical).
# ---------------------------------------------------------------------------
def first_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each customer's earliest order (date ties broken by lowest
    order key). The aggregate side collapses to one row per customer
    before the join, so the join-back input is |customers|, not
    |orders| — at scale this beats a full-orders window sort when the
    per-key row count is high.

    Key-tie correctness: joining on (custkey, min_date) alone would
    fan out on date ties, so the tiebreak aggregates MIN(orderkey)
    within the min date via a struct-ordered MIN (single aggregation
    pass, no second join)."""
    # no spread: per-row work is trivial, and orders is scanned twice
    # (aggregate side + join-back side) — a round-robin repartition
    # would just add two local shuffles
    orders = load(spark, sf_dir, "orders")
    first = (
        orders.groupBy("o_custkey")
        .agg(
            F.min(F.struct("o_orderdate", "o_orderkey")).alias("__first")
        )
        .select(
            "o_custkey",
            F.col("__first.o_orderkey").alias("o_orderkey"),
        )
    )
    return first.join(
        orders.select(
            "o_orderkey", "o_orderdate", "o_totalprice", "o_orderstatus"
        ),
        "o_orderkey",
    ).select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("first_orderkey"),
        F.col("o_orderdate").alias("first_order_date"),
        F.col("o_totalprice").alias("first_order_price"),
        F.col("o_orderstatus").alias("first_order_status"),
    )


FIRST_ORDER_PER_CUSTOMER_SQL = """
SELECT o_custkey AS custkey,
       o_orderkey AS first_orderkey,
       o_orderdate AS first_order_date,
       o_totalprice AS first_order_price,
       o_orderstatus AS first_order_status
FROM orders
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
) = 1
"""


def shipments_in_order_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join under the oracle gate: count lineitem shipments whose
    ship date falls in a 7-day window opened by every 97th order
    (promo-window attribution shape). Uses the bucketed
    :func:`~olist_lakehouse_2_0_spark.operators.joins.range_join`
    rewrite — an equi-join on 7-day date buckets plus an exact
    containment filter — where a naive BETWEEN condition would plan as
    BroadcastNestedLoopJoin (or a cartesian at scale). The oracle IS
    the naive BETWEEN join, so the driver hash-proves the rewrite's
    semantics."""
    from olist_lakehouse_2_0_spark.operators.joins import range_join

    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    windows = orders.filter(F.col("o_orderkey") % 97 == 0).select(
        F.col("o_orderkey").alias("window_id"),
        F.unix_date(F.col("o_orderdate").cast("date")).alias("__ws"),
        (F.unix_date(F.col("o_orderdate").cast("date")) + 7).alias("__we"),
    )
    points = lineitem.select(
        F.unix_date(F.col("l_shipdate").cast("date")).alias("__p"),
        "l_quantity",
    )
    joined = range_join(points, windows, "__p", "__ws", "__we", bucket_width=7)
    return joined.groupBy("window_id").agg(
        F.count(F.lit(1)).alias("n_shipments"),
        F.sum("l_quantity").alias("total_qty"),
    )


SHIPMENTS_IN_ORDER_WINDOWS_SQL = """
WITH win AS (
  SELECT o_orderkey AS window_id,
         CAST(o_orderdate AS DATE) AS ws,
         CAST(o_orderdate AS DATE) + INTERVAL 7 DAY AS we
  FROM orders WHERE o_orderkey % 97 = 0
)
SELECT window_id,
       COUNT(*) AS n_shipments,
       SUM(l_quantity) AS total_qty
FROM lineitem
JOIN win ON CAST(l_shipdate AS DATE) >= ws AND CAST(l_shipdate AS DATE) < we
GROUP BY window_id
"""


def salted_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigation salted join under the oracle gate: orders joined
    to customers through
    :func:`~olist_lakehouse_2_0_spark.operators.joins.salted_join`
    (each key spread across 8 salt buckets, the dimension side
    replicated to match), aggregated to revenue per nation. The oracle
    is the plain equi-join — the driver hash-proves that salting is
    invisible in the result, which is the whole point of the
    technique."""
    from olist_lakehouse_2_0_spark.operators.joins import salted_join

    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    customer = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    joined = salted_join(orders, customer, "o_custkey", salt=8)
    return joined.groupBy(F.col("c_nationkey").alias("nation_key")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast(MONEY)).cast(MONEY_SUM).alias("revenue"),
    )


SALTED_NATION_REVENUE_SQL = """
SELECT c_nationkey AS nation_key,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_nationkey
"""


def salted_priority_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase GROUP BY under the oracle gate: per-priority
    order metrics computed through
    :func:`~olist_lakehouse_2_0_spark.operators.joins.salted_agg`
    (each of the 5 hot priority keys split across 8 salted partial
    groups, partials merged on the bare key). The oracle is the plain
    GROUP BY — the driver hash-proves the split-merge is exact for the
    algebraic aggregates (count merges via sum; sum/min/max merge with
    themselves), which is the invariant that lets a 1000-executor job
    survive one key holding 30% of the table."""
    from olist_lakehouse_2_0_spark.operators.joins import salted_agg

    orders = load(spark, sf_dir, "orders")
    out = salted_agg(
        orders,
        ["o_orderpriority"],
        {
            "n_orders": ("count", F.lit(1)),
            "total_revenue": ("sum", F.col("o_totalprice").cast(MONEY)),
            "max_price": ("max", F.col("o_totalprice").cast(MONEY)),
            "first_date": ("min", F.col("o_orderdate")),
        },
        salt=8,
    )
    return out.select(
        F.col("o_orderpriority").alias("priority"),
        "n_orders",
        F.col("total_revenue").cast(MONEY_SUM).alias("total_revenue"),
        "max_price",
        "first_date",
    )


SALTED_PRIORITY_AGG_SQL = """
SELECT o_orderpriority AS priority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2))
           AS total_revenue,
       CAST(MAX(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(12,2))
           AS max_price,
       MIN(o_orderdate) AS first_date
FROM orders
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# TPC-H Q21 shape: semi-join + anti-join against the SAME fact self-scan
# (suppliers who were the sole late shipper on multi-supplier orders).
# The reference has nothing like this; a complete engine needs the
# EXISTS/NOT-EXISTS pair over one self-joined fact — the classic
# "blame exactly one participant" decorrelation.
# ---------------------------------------------------------------------------
def waiting_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For finished ('F') orders with lineitems from MORE than one
    supplier where EXACTLY one supplier shipped late (> 60 days after
    the order date), count per supplier how many orders they alone
    held up — TPC-H Q21's shape on this schema (no commit/receipt
    dates here, so lateness is ship-vs-order date).

    Plan: the late-lineitem base (one join orders⋈lineitem on the
    order key) feeds a LEFT SEMI self-join (some OTHER supplier on the
    order exists) and a LEFT ANTI self-join (no OTHER supplier was
    ALSO late — the anti condition carries the order date from the
    left side, so no second orders join). All three lineitem legs
    shuffle on the same order key and reuse one exchange layout; the
    supplier dimension broadcasts; the final count is a tiny groupBy.
    At 100 TB the fact is never joined to itself on anything but the
    order key — per-order group sizes are bounded by order width, so
    no skew beyond AQE's reach."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders_f = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    late = F.col("t.l_shipdate") > F.expr("t.o_orderdate + INTERVAL 60 DAYS")
    l1 = (
        li.join(orders_f, F.col("l_orderkey") == F.col("o_orderkey"))
        .select("l_orderkey", "l_suppkey", "l_shipdate", "o_orderdate")
        .alias("t")
        .filter(late)
    )
    others_exist = l1.join(
        li.alias("x"),
        (F.col("t.l_orderkey") == F.col("x.l_orderkey"))
        & (F.col("t.l_suppkey") != F.col("x.l_suppkey")),
        "left_semi",
    )
    sole_late = others_exist.alias("t").join(
        li.alias("y"),
        (F.col("t.l_orderkey") == F.col("y.l_orderkey"))
        & (F.col("t.l_suppkey") != F.col("y.l_suppkey"))
        & (
            F.col("y.l_shipdate")
            > F.expr("t.o_orderdate + INTERVAL 60 DAYS")
        ),
        "left_anti",
    )
    supplier = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        sole_late.select("l_suppkey")
        .join(
            F.broadcast(supplier),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_suppkey")
    )


WAITING_SOLE_LATE_SUPPLIER_SQL = """
WITH l1 AS (
  SELECT l.l_orderkey, l.l_suppkey, o.o_orderdate
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F'
    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
)
SELECT s.s_suppkey, s.s_name, COUNT(*) AS numwait
FROM l1 t
JOIN supplier s ON t.l_suppkey = s.s_suppkey
WHERE EXISTS (
    SELECT 1 FROM lineitem x
    WHERE x.l_orderkey = t.l_orderkey AND x.l_suppkey <> t.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem y
    WHERE y.l_orderkey = t.l_orderkey AND y.l_suppkey <> t.l_suppkey
      AND y.l_shipdate > t.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY s.s_suppkey, s.s_name
ORDER BY numwait DESC, s.s_suppkey
"""


# ---------------------------------------------------------------------------
# TPC-H Q22 shape: scalar aggregate subquery as a comparison threshold
# + anti-join (rich customers with no urgent orders). Exercises the
# "compare every row against a global aggregate" decorrelation.
# ---------------------------------------------------------------------------
def idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers whose balance exceeds the average POSITIVE balance and
    who never placed a '1-URGENT' order, rolled up per market segment
    — TPC-H Q22's shape (scalar-subquery threshold + NOT EXISTS).

    Exactness discipline: the above-average predicate is CROSS-
    MULTIPLIED (``balance·n_pos > sum_pos`` in decimal) instead of
    comparing against a float average — IEEE summation order differs
    between engines and a boundary customer would flip the hash;
    decimal products and sums are exact and order-independent. Plan:
    the one-row aggregate broadcasts (no single-partition window, same
    as ``nation_revenue_share``), the urgent-order keys anti-join on
    the customer key, and the rollup groups five segments."""
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", F.col("c_acctbal").cast(MONEY).alias("__bal")
    )
    pos = cust.filter(F.col("__bal") > 0).agg(
        F.sum("__bal").cast(MONEY_SUM).alias("__s"),
        F.count(F.lit(1)).alias("__n"),
    )
    rich = cust.crossJoin(F.broadcast(pos)).filter(
        F.col("__bal") * F.col("__n") > F.col("__s")
    )
    urgent = (
        load(spark, sf_dir, "orders", spread=True)
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    idle = rich.join(
        urgent, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    )
    return (
        idle.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum("__bal").cast(MONEY_SUM).alias("totacctbal"),
        )
        .orderBy("c_mktsegment")
    )


IDLE_RICH_CUSTOMERS_SQL = """
WITH pos AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS s,
         COUNT(*) AS n
  FROM customer WHERE CAST(c_acctbal AS DECIMAL(12,2)) > 0
)
SELECT c_mktsegment, COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DECIMAL(18,2))
           AS totacctbal
FROM customer c, pos
WHERE CAST(c_acctbal AS DECIMAL(12,2)) * pos.n > pos.s
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
  )
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# TPC-H Q15 shape: max over an AGGREGATED relation, equality-joined back
# (ties kept) — the "top revenue supplier(s)" view pattern, distinct
# from the per-key argmin join-back (first_order_per_customer).
# ---------------------------------------------------------------------------
def top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier(s) with the maximum 1996 shipped revenue — TPC-H Q15:
    aggregate per supplier, take the scalar MAX of the aggregate, keep
    every supplier equal to it (ties preserved, unlike LIMIT 1).
    Revenue is exact decimal, so the tie comparison cannot diverge
    between engines. Plan: one lineitem aggregate (partial-combined on
    suppkey), a one-row MAX broadcast back onto the supplier-sized
    aggregate, the supplier dim broadcast for names — the fact is
    scanned once."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    # Sum stays at its natural scale-4 (the repo's revenue idiom, see
    # revenue_by_nation): a final round-to-cents cast can land on a
    # .xx5 boundary where Spark rounds HALF_UP and DuckDB HALF_EVEN.
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            F.col("l_extendedprice").cast(MONEY)
            * (1 - F.col("l_discount").cast("decimal(4,2)"))
        )
        .cast("decimal(18,4)")
        .alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("__mx"))
    supplier = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("__mx"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


TOP_REVENUE_SUPPLIER_SQL = """
WITH rev AS (
  SELECT l_suppkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                  * (1 - CAST(l_discount AS DECIMAL(4,2))))
              AS DECIMAL(18,4)) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM rev r
JOIN supplier s ON r.l_suppkey = s.s_suppkey
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)
ORDER BY s.s_suppkey
"""


# ---------------------------------------------------------------------------
# TPC-H Q16 shape: NOT IN anti-subquery + negated LIKE + COUNT(DISTINCT)
# over a three-way dimension grain.
# ---------------------------------------------------------------------------
def part_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many DISTINCT suppliers can ship each (brand, type, size)
    part profile — excluding one brand, every promo-type, and all
    negative-balance suppliers (the complaint analogue) — TPC-H Q16's
    shape: a NOT IN subquery (planned as a left-anti join on the
    supplier key), a negated LIKE pushed to the part scan, and
    COUNT(DISTINCT) at a dimension grain. Plan: the excluded-supplier
    set is supplier-sized (broadcast anti), the part dim broadcasts
    into the lineitem scan, and the distinct count partial-aggregates
    on the (brand, type, size, suppkey) grain before the final
    exchange."""
    part = (
        load(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#1")
            & (~F.col("p_type").like("PROMO%"))
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad_suppliers = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    )
    return (
        li.join(
            F.broadcast(bad_suppliers),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
    )


PART_SUPPLIER_VARIETY_SQL = """
SELECT p.p_brand, p.p_type, p.p_size,
       COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#1'
  AND p.p_type NOT LIKE 'PROMO%'
  AND l.l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
  )
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
"""


# ---------------------------------------------------------------------------
# TPC-H Q18 shape: join back against a HAVING-filtered aggregate
# (large-volume orders) — the IN-(GROUP BY ... HAVING) decorrelation.
# ---------------------------------------------------------------------------
def large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose total lineitem quantity exceeds 300, with their
    customers — TPC-H Q18's shape: the HAVING-filtered per-order
    aggregate IS the join input (equivalently ``o_orderkey IN (SELECT
    ... GROUP BY ... HAVING)``), so the filter collapses the fact to
    the qualifying keys BEFORE the wide join touches orders. Quantity
    sums are exact decimal (the raw column is double; a float sum's
    partition-order rounding could flip the >300 boundary between
    engines). Plan: lineitem aggregates once on the order key
    (partial-combined), the qualifying set joins orders on the same
    key, customers broadcast."""
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(F.col("l_quantity").cast(MONEY))
            .cast(MONEY_SUM)
            .alias("total_qty")
        )
        .filter(F.col("total_qty") > 300)
    )
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    customer = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey")
        )
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "total_qty",
        )
        .orderBy("o_orderkey")
    )


LARGE_VOLUME_ORDERS_SQL = """
WITH big AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2))
           AS total_qty
  FROM lineitem
  GROUP BY l_orderkey
  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2)) > 300
)
SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
       o.o_totalprice, big.total_qty
FROM big
JOIN orders o ON big.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
ORDER BY o.o_orderkey
"""


# ---------------------------------------------------------------------------
# TPC-H Q2 shape: correlated MIN over a multi-join subquery, decorrelated
# as a per-key aggregate joined back on (key, min) — ties kept.
# ---------------------------------------------------------------------------
def regional_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each size-7 part, the EUROPE supplier(s) offering its
    minimum observed ship price — TPC-H Q2's shape: the correlated
    ``price = (SELECT MIN(...) WHERE region AND same part)`` subquery
    decorrelated into a per-part aggregate joined back on
    (partkey, min_cost), ties preserved. The offer relation itself is
    derived (min l_extendedprice per (part, supplier) — lineitem
    stands in for partsupp, which this testdata lacks); cost is a MIN
    of raw doubles (no arithmetic), so the equality join-back cannot
    diverge between engines. Plan: region->nation->supplier collapses
    to a broadcast supplier set; offers partial-aggregate on
    (part, supplier) before the per-part MIN; both aggregates are on
    already-reduced relations — the fact scans once."""
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    supplier = load(spark, sf_dir, "supplier")
    euro_supp = (
        supplier.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                ).select("n_nationkey")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal")
    )
    part = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_size") == 7)
        .select("p_partkey", "p_brand")
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    offers = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(euro_supp),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("p_partkey", "p_brand", "s_suppkey", "s_name", "s_acctbal")
        .agg(F.min("l_extendedprice").alias("cost"))
    )
    best = offers.groupBy(F.col("p_partkey").alias("__pk")).agg(
        F.min("cost").alias("__min_cost")
    )
    return (
        offers.join(
            best,
            (F.col("p_partkey") == F.col("__pk"))
            & (F.col("cost") == F.col("__min_cost")),
        )
        .select(
            "p_partkey", "p_brand", "s_suppkey", "s_name", "s_acctbal",
            "cost",
        )
        .orderBy("p_partkey", "s_suppkey")
    )


REGIONAL_MIN_COST_SUPPLIER_SQL = """
WITH euro_supp AS (
  SELECT s.s_suppkey, s.s_name, s.s_acctbal
  FROM supplier s
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'EUROPE'
), offers AS (
  SELECT p.p_partkey, p.p_brand, es.s_suppkey, es.s_name, es.s_acctbal,
         MIN(l.l_extendedprice) AS cost
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_size = 7
  JOIN euro_supp es ON l.l_suppkey = es.s_suppkey
  GROUP BY p.p_partkey, p.p_brand, es.s_suppkey, es.s_name, es.s_acctbal
)
SELECT p_partkey, p_brand, s_suppkey, s_name, s_acctbal, cost
FROM offers o
WHERE cost = (SELECT MIN(cost) FROM offers i
              WHERE i.p_partkey = o.p_partkey)
ORDER BY p_partkey, s_suppkey
"""


# ---------------------------------------------------------------------------
# TPC-H Q8 shape: market-share ratio — conditional aggregate over a
# deep join tree, exposed as exact numerator/denominator + IEEE share.
# ---------------------------------------------------------------------------
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATION_2's share of the ASIA market for STANDARD-type parts per
    order year — TPC-H Q8's shape: revenue over a
    lineitem⋈orders⋈customer⋈nation⋈region⋈part⋈supplier⋈nation tree,
    with a CASE-gated numerator (supplier nation = NATION_2) inside
    the same aggregate pass. Numerator and denominator are EXACT
    scale-4 decimals; the share column is one IEEE division of their
    double casts (deterministic on both engines — never a decimal
    division, whose precision/rounding rules differ). Plan: all five
    dimension legs broadcast; the fact is scanned once and aggregated
    by year with the CASE folded into the same partial aggregate."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount",
    )
    part = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_type") == "STANDARD")
        .select("p_partkey")
    )
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year")
    )
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_cust = (
        load(spark, sf_dir, "customer")
        .join(
            F.broadcast(
                nation.join(
                    F.broadcast(region),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                ).select(F.col("n_nationkey").alias("__cnk"))
            ),
            F.col("c_nationkey") == F.col("__cnk"),
        )
        .select("c_custkey")
    )
    supp_nation = (
        load(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    rev = F.col("l_extendedprice").cast(MONEY) * (
        1 - F.col("l_discount").cast("decimal(4,2)")
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(asia_cust), F.col("o_custkey") == F.col("c_custkey")
        )
        .join(
            F.broadcast(supp_nation),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("o_year")
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_2", rev))
            .cast("decimal(18,4)")
            .alias("nation_revenue"),
            F.sum(rev).cast("decimal(18,4)").alias("market_revenue"),
        )
        .select(
            "o_year",
            F.coalesce(
                F.col("nation_revenue"), F.lit(0).cast("decimal(18,4)")
            ).alias("nation_revenue"),
            "market_revenue",
            (
                F.coalesce(F.col("nation_revenue"), F.lit(0).cast("decimal(18,4)"))
                .cast("double")
                / F.col("market_revenue").cast("double")
            ).alias("share"),
        )
        .orderBy("o_year")
    )


NATION_MARKET_SHARE_SQL = """
WITH asia_cust AS (
  SELECT c.c_custkey
  FROM customer c
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'ASIA'
), g AS (
  SELECT EXTRACT(YEAR FROM o.o_orderdate) AS o_year,
         CAST(SUM(CASE WHEN sn.n_name = 'NATION_2'
                       THEN CAST(l.l_extendedprice AS DECIMAL(12,2))
                            * (1 - CAST(l.l_discount AS DECIMAL(4,2)))
                  END) AS DECIMAL(18,4)) AS nation_revenue,
         CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                  * (1 - CAST(l.l_discount AS DECIMAL(4,2))))
              AS DECIMAL(18,4)) AS market_revenue
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'STANDARD'
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN asia_cust ac ON o.o_custkey = ac.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
  GROUP BY EXTRACT(YEAR FROM o.o_orderdate)
)
SELECT CAST(o_year AS INT) AS o_year,
       COALESCE(nation_revenue, CAST(0 AS DECIMAL(18,4))) AS nation_revenue,
       market_revenue,
       CAST(COALESCE(nation_revenue, CAST(0 AS DECIMAL(18,4))) AS DOUBLE)
         / CAST(market_revenue AS DOUBLE) AS share
FROM g
ORDER BY o_year
"""


# ---------------------------------------------------------------------------
# TPC-H Q11 shape: HAVING against a fraction of a GLOBAL scalar
# aggregate — cross-multiplied so the comparison is exact.
# ---------------------------------------------------------------------------
def important_parts_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts whose shipped value exceeds the MEAN per-part value —
    TPC-H Q11's shape: a per-key aggregate gated by HAVING > fraction
    * (scalar subquery over the same relation). Official Q11 scales
    its fraction by 1/SF precisely so the gate stays selective at
    every scale; the scale-free equivalent here compares against the
    mean (``value * n_parts > total``), cross-multiplied so the
    comparison stays in exact integer-decimal arithmetic — a
    fractional threshold computed as a decimal division would round
    differently per engine. Plan: ONE aggregate pass feeds both sides
    (the grouped relation and its one-row total+count rollup), the
    scalar broadcasts back onto the part-sized aggregate — the fact
    never rescans."""
    li = load(spark, sf_dir, "lineitem")
    value = (
        F.col("l_extendedprice").cast(MONEY)
        * (1 - F.col("l_discount").cast("decimal(4,2)"))
    )
    per_part = (
        li.groupBy("l_partkey")
        .agg(F.sum(value).cast("decimal(18,4)").alias("part_value"))
        .persist()
    )
    total = per_part.agg(
        F.sum("part_value").cast("decimal(28,4)").alias("__total"),
        F.count(F.lit(1)).alias("__n_parts"),
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(
            F.col("part_value").cast("decimal(28,4)") * F.col("__n_parts")
            > F.col("__total")
        )
        .select("l_partkey", "part_value")
        .orderBy(F.col("part_value").desc(), "l_partkey")
    )


IMPORTANT_PARTS_VALUE_SQL = """
WITH per_part AS (
  SELECT l_partkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                  * (1 - CAST(l_discount AS DECIMAL(4,2))))
              AS DECIMAL(18,4)) AS part_value
  FROM lineitem
  GROUP BY l_partkey
)
SELECT l_partkey, part_value
FROM per_part
WHERE CAST(part_value AS DECIMAL(28,4))
      * (SELECT COUNT(*) FROM per_part)
      > (SELECT CAST(SUM(part_value) AS DECIMAL(28,4)) FROM per_part)
ORDER BY part_value DESC, l_partkey
"""


# ---------------------------------------------------------------------------
# TPC-H Q20 shape: correlated half-sum threshold (qty > 0.5 * SUM(...)
# for the same key), decorrelated and cross-multiplied exact.
# ---------------------------------------------------------------------------
def dominant_part_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who shipped MORE THAN HALF of some part's total 1997
    quantity — TPC-H Q20's shape: the correlated ``> 0.5 * SUM(...)
    same part`` subquery decorrelated into a per-part total joined to
    the per-(part, supplier) sums, cross-multiplied
    (``2 * supplier_qty > part_qty``) so the half-threshold stays in
    exact decimal. Rolled up to (supplier, #dominated parts). Plan:
    one date-filtered fact scan partial-aggregates on the
    (part, supplier) grain; the per-part totals are a second
    aggregate of THAT (already part×supplier-sized) relation, joined
    back on the part key; the supplier dim broadcasts."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast(MONEY))
        .cast(MONEY_SUM)
        .alias("supp_qty")
    ).persist()
    per_part = ps.groupBy(F.col("l_partkey").alias("__pk")).agg(
        F.sum("supp_qty").cast("decimal(28,2)").alias("part_qty")
    )
    supplier = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        ps.join(per_part, F.col("l_partkey") == F.col("__pk"))
        .filter(
            F.col("supp_qty").cast("decimal(28,2)") * 2 > F.col("part_qty")
        )
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_dominated_parts"))
        .join(
            F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .select("s_suppkey", "s_name", "n_dominated_parts")
        .orderBy(F.col("n_dominated_parts").desc(), "s_suppkey")
    )


DOMINANT_PART_SHIPPERS_SQL = """
WITH ps AS (
  SELECT l_partkey, l_suppkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2))
           AS supp_qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY l_partkey, l_suppkey
), per_part AS (
  SELECT l_partkey AS pk,
         CAST(SUM(supp_qty) AS DECIMAL(28,2)) AS part_qty
  FROM ps GROUP BY l_partkey
)
SELECT s.s_suppkey, s.s_name,
       COUNT(*) AS n_dominated_parts
FROM ps
JOIN per_part ON ps.l_partkey = per_part.pk
JOIN supplier s ON ps.l_suppkey = s.s_suppkey
WHERE CAST(ps.supp_qty AS DECIMAL(28,2)) * 2 > per_part.part_qty
GROUP BY s.s_suppkey, s.s_name
ORDER BY n_dominated_parts DESC, s.s_suppkey
"""


# ---------------------------------------------------------------------------
# TPC-H Q3 shape: segment-filtered three-way join, per-order revenue
# aggregate, global top-k WITHOUT a full sort.
# ---------------------------------------------------------------------------
def shipping_priority_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 10 highest-revenue not-yet-shipped BUILDING-segment orders
    — TPC-H Q3's shape: customer(segment) ⋈ orders(date <) ⋈
    lineitem(shipdate >), per-order revenue aggregate, ORDER BY
    revenue LIMIT 10.

    Plan: the segment filter reduces customers to ~1/5 and projects a
    single key column, so the customer leg broadcasts as a semi-filter
    onto orders; orders⋈lineitem shuffles once on the order key; the
    per-order aggregate reuses that layout; the global top-10 is
    TakeOrderedAndProject (per-partition heaps + driver merge of 10×P
    rows), never a full sort — the one pattern that stays O(k) in
    driver memory at any corpus size. Revenue is an exact scale-4
    decimal; the (revenue DESC, o_orderdate, l_orderkey) order is
    total because the order key is unique, so the LIMIT boundary
    cannot tie-break differently between engines."""
    cutoff = "1998-06-01"
    cust = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        load(spark, sf_dir, "lineitem", spread=True)
        .filter(F.col("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    rev = F.col("l_extendedprice").cast(MONEY) * (
        1 - F.col("l_discount").cast("decimal(4,2)")
    )
    return (
        li.join(
            orders.join(
                F.broadcast(cust),
                F.col("o_custkey") == F.col("c_custkey"),
                "left_semi",
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("decimal(18,4)").alias("revenue"))
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


SHIPPING_PRIORITY_TOPK_SQL = """
SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l.l_discount AS DECIMAL(4,2))))
            AS DECIMAL(18,4)) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderdate < TIMESTAMP '1998-06-01'
  AND l.l_shipdate > TIMESTAMP '1998-06-01'
  AND o.o_custkey IN (
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
  )
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
LIMIT 10
"""


# ---------------------------------------------------------------------------
# TPC-H Q4 shape: EXISTS with a cross-side predicate, decorrelated as a
# LEFT SEMI join whose residual condition carries a left-side column.
# ---------------------------------------------------------------------------
def late_shipment_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many Q3-1997 orders had at least one lineitem shipped more
    than 30 days after the order date, per order priority — TPC-H Q4's
    shape: EXISTS(lineitem WHERE same order AND late), counted at the
    priority grain (this schema has no commit/receipt dates, so
    lateness is ship-vs-order date, same convention as
    ``waiting_sole_late_supplier``).

    Plan: the quarter filter prunes orders before the join; the EXISTS
    decorrelates to ONE left-semi shuffle join on the order key whose
    non-equi lateness residual references the left side's order date —
    Spark evaluates it inside the semi join, so no lineitem row is
    ever materialized into the output and the per-order match
    short-circuits at the first late item. The final aggregate is a
    5-row groupBy. Nothing in the plan holds more than one order's
    lineitems at a time, at any scale."""
    orders = (
        load(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= "1997-07-01")
            & (F.col("o_orderdate") < "1997-10-01")
        )
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    return (
        orders.alias("o")
        .join(
            li.alias("l"),
            (F.col("l.l_orderkey") == F.col("o.o_orderkey"))
            & (
                F.col("l.l_shipdate")
                > F.expr("o.o_orderdate + INTERVAL 30 DAYS")
            ),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("late_order_count"))
        .orderBy("o_orderpriority")
    )


LATE_SHIPMENT_PRIORITY_COUNTS_SQL = """
SELECT o.o_orderpriority, COUNT(*) AS late_order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-07-01'
  AND o.o_orderdate < TIMESTAMP '1997-10-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
  )
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""


# ---------------------------------------------------------------------------
# TPC-H Q7 shape: bilateral volume between two named nations — a
# symmetric pair disjunction evaluated AFTER both dimension joins.
# ---------------------------------------------------------------------------
def bilateral_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipped revenue between NATION_1 and NATION_2 (both directions
    kept distinct) per ship year, 1996–1997 — TPC-H Q7's shape: the
    supplier nation comes from one dimension chain, the customer
    nation from another, and the ((n1,n2) OR (n2,n1)) pair predicate
    can only be applied after both chains resolve.

    Plan: each chain pre-filters to its two candidate nations BEFORE
    touching the fact (nation broadcasts into supplier/customer, the
    survivors project a single key + nation name), so the pair
    disjunction degenerates to one inequality on the already-joined
    rows. The supplier leg broadcasts (suppliers of 2 nations);
    customers ⋈ orders shuffles on the customer key, then
    orders ⋈ lineitem on the order key; the (nation, nation, year)
    aggregate is 8 rows. Revenue sums in exact decimal wide enough
    (28,4) that a 100 TB year-group cannot overflow."""
    nation = load(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    supp = (
        load(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load(spark, sf_dir, "customer")
        .join(
            F.broadcast(nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = (
        load(spark, sf_dir, "lineitem", spread=True)
        .filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
        )
        .select(
            "l_orderkey", "l_suppkey",
            F.year("l_shipdate").alias("l_year"),
            "l_extendedprice", "l_discount",
        )
    )
    rev = F.col("l_extendedprice").cast(MONEY) * (
        1 - F.col("l_discount").cast("decimal(4,2)")
    )
    return (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders.join(cust, F.col("o_custkey") == F.col("c_custkey")),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum(rev).cast("decimal(28,4)").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


BILATERAL_TRADE_VOLUME_SQL = """
SELECT sn.n_name AS supp_nation,
       cn.n_name AS cust_nation,
       CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INT) AS l_year,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l.l_discount AS DECIMAL(4,2))))
            AS DECIMAL(28,4)) AS revenue
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation cn ON c.c_nationkey = cn.n_nationkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1998-01-01'
  AND sn.n_name IN ('NATION_1', 'NATION_2')
  AND cn.n_name IN ('NATION_1', 'NATION_2')
  AND sn.n_name <> cn.n_name
GROUP BY sn.n_name, cn.n_name, EXTRACT(YEAR FROM l.l_shipdate)
ORDER BY supp_nation, cust_nation, l_year
"""


# ---------------------------------------------------------------------------
# TPC-H Q9 shape: product-line profit — LIKE-filtered part dimension,
# derived per-row profit expression, (nation, year) rollup.
# ---------------------------------------------------------------------------
def product_line_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit on widget parts per supplier nation and order year —
    TPC-H Q9's shape: a LIKE '%widget%' part filter, per-lineitem
    profit = revenue − cost (this schema has no partsupp, so cost is
    retail price × quantity), rolled up by the SUPPLIER's nation and
    the ORDER's year. Exercises a five-relation tree where the
    measure needs columns from three of them.

    Plan: the LIKE filter cannot push below the scan as a parquet
    predicate, but it prunes the part dimension to ~1/3 before its
    broadcast; part (partkey → retailprice) and supplier⋈nation
    (suppkey → nation) both broadcast into the fact scan, so the only
    shuffle joins are lineitem ⋈ orders on the order key and the final
    (nation, year) aggregate — whose partial (map-side) form collapses
    each task to ≤ nations×years rows before the exchange. Profit
    stays an exact scale-4 decimal end to end; the (28,4) sum cannot
    overflow a 100 TB group."""
    part = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
    )
    supp_nation = (
        load(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year")
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_discount",
    )
    profit = F.col("l_extendedprice").cast(MONEY) * (
        1 - F.col("l_discount").cast("decimal(4,2)")
    ) - F.col("p_retailprice").cast(MONEY) * F.col("l_quantity").cast(MONEY)
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(supp_nation),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("nation", "o_year")
        .agg(F.sum(profit).cast("decimal(28,4)").alias("profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


PRODUCT_LINE_PROFIT_SQL = """
SELECT n.n_name AS nation,
       CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT) AS o_year,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l.l_discount AS DECIMAL(4,2)))
                - CAST(p.p_retailprice AS DECIMAL(12,2))
                  * CAST(l.l_quantity AS DECIMAL(12,2)))
            AS DECIMAL(28,4)) AS profit
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE p.p_name LIKE '%widget%'
GROUP BY n.n_name, EXTRACT(YEAR FROM o.o_orderdate)
ORDER BY nation, o_year DESC
"""


def bloom_pruned_fact_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join pruning under the hash gate (round 8;
    the injection itself was pinned in round 7,
    tests/test_plans.py::test_runtime_bloom_filter_prunes_fact_side).
    At 100 TB the cheapest join optimization after broadcast: when a
    SELECTIVE dimension filter survives on the build side, Catalyst
    injects BloomFilterAggregate there and a ``might_contain``
    semi-filter on the fact SCAN side, discarding non-matching fact
    rows BEFORE the shuffle — the difference between shuffling a full
    lineitem and shuffling the ~2 % that can possibly join. The join
    aggregate is hashed against the oracle's plain re-derivation (the
    bloom filter must be a pure pruning device — any row it wrongly
    drops fails the hash), and ``bloom_injected`` pins from the
    OPTIMIZED plan of the very frame returned that both halves of the
    injection are present. Size thresholds are scaled to the test SFs
    inside a restore-on-exit conf window; the physical plan is forced
    while the window is open, and the output is pre-cast driver-stable
    so the registry wrapper returns this exact (already-planned)
    frame."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        )
        orders = (
            load(spark, sf_dir, "orders")
            .filter(F.col("o_totalprice") < 25000)  # selective build side
            .select("o_orderkey", "o_orderpriority")
        )
        joined = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        plan = joined._jdf.queryExecution().optimizedPlan().toString()
        bloom_ok = (
            "bloom_filter_agg" in plan or "BloomFilter" in plan
        ) and "might_contain" in plan
        # scale-4 products sum EXACTLY at scale 4 — no rounding, so no
        # half-up/half-even tie hazard at the driver-stable cast
        revenue = F.sum(
            F.col("l_extendedprice").cast(MONEY)
            * (1 - F.col("l_discount").cast("decimal(4,2)"))
        ).cast("decimal(28,4)")
        result = (
            joined.groupBy(F.col("o_orderpriority").alias("priority"))
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                revenue.cast("double").alias("revenue"),
            )
            .select(
                "priority", "n_items", "revenue",
                F.lit(bool(bloom_ok)).alias("bloom_injected"),
            )
        )
        # force physical planning while the conf window is open so the
        # plan that executes is the bloom-pruned one
        result._jdf.queryExecution().executedPlan()
        return result
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


BLOOM_PRUNED_FACT_JOIN_SQL = """
SELECT o.o_orderpriority AS priority,
       COUNT(*) AS n_items,
       CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                     * (1 - CAST(l.l_discount AS DECIMAL(4,2))))
                 AS DECIMAL(28,4)) AS DOUBLE) AS revenue,
       TRUE AS bloom_injected
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_totalprice < 25000
GROUP BY o.o_orderpriority
"""


def _skew_rollup_pipelines(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The two skew-torture pipelines ``skew_hot_key_join`` proves
    equal: the merge-hinted SMJ rollup (the AQE-skew-split path) and
    the ``salted_join`` rollup (the non-AQE mitigation). Shared with
    tests/test_plans.py, which pins the SMJ + skew=true engagement on
    the merged pipeline directly."""
    from olist_lakehouse_2_0_spark.operators.joins import salted_join

    # Spread: AQE splits a skewed partition only along map-output
    # boundaries, and a one-file scan has a single map task to split.
    fact = load(spark, sf_dir, "lineitem", spread=True).select(
        F.when(F.col("l_orderkey") % 5 < 2, F.lit(1))
        .otherwise(F.col("l_orderkey"))
        .alias("key"),
        "l_extendedprice",
    )
    # distinct over BOTH columns (bucket is key-determined, so the
    # relation is identical): the distinct's exchange then hashes on
    # (key, bucket), NOT the join key, so the planner inserts a plain
    # key-exchange directly under the sort-merge join — the shape
    # AQE's OptimizeSkewedJoin pattern-matches (it only splits
    # partitions sitting IMMEDIATELY above a shuffle; a distinct
    # co-partitioned on the join key would wedge its aggregate
    # between shuffle and join and the splitter could never engage)
    dim = fact.select(
        "key", (F.col("key") % 10).cast("int").alias("bucket")
    ).distinct()

    def rollup(joined: DataFrame) -> DataFrame:
        return joined.groupBy("bucket").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_extendedprice").cast(MONEY))
            .cast(MONEY_SUM)
            .alias("revenue"),
        )

    merged = rollup(fact.join(dim.hint("merge"), "key"))
    salted = rollup(salted_join(fact, dim, "key", salt=8))
    return merged, salted


def skew_hot_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-torture join under the hash gate (round 10; VERDICT r9
    next-step #8 — the AQE skew machinery had bench evidence,
    ``scripts/bench_skew.py``, but nothing oracled). A synthetic hot
    key absorbs ~40% of lineitem (every ``l_orderkey % 5 < 2`` row
    remaps to key 1 — the one-tenant-dominates shape that breaks
    naive shuffles at 100 TB); the dimension is one row per surviving
    key, too structural to fake the answer. The join is FORCED onto
    the shuffle path with a ``merge`` hint — without it Catalyst would
    broadcast the small dim and dodge the skew entirely; on a real
    cluster the dim is the too-big-to-broadcast side and AQE's
    skew-join splitter (``spark.sql.adaptive.skewJoin``, enabled
    session-wide) is what carves the hot partition into parallel
    splits (the splitter ENGAGING at torture scale is pinned in
    tests/test_plans.py with proportionally lowered thresholds; at
    bench scale the partitions sit under the default 256 MB threshold
    so the plan is a plain SMJ). The oracled boolean proves
    ``salted_join`` — the non-AQE mitigation for the same shape —
    returns the IDENTICAL relation, so both skew answers are
    result-invisible under one gate."""
    # Both rollups are 10 bounded rows — prove relation equality by
    # collecting and comparing driver-side (one execution each)
    # instead of a two-way exceptAll, which re-executed BOTH join
    # pipelines twice more (the round's profiling put this query's
    # floor at 6.2 s, ~5 full join+agg executions). The merged rollup
    # persists first so its equality-proof collect materializes the
    # 10-row cache and the RETURNED relation reads it instead of
    # re-running the torture join a third time — 2 executions total,
    # the minimum for a two-pipeline equality proof (guide §1.2: don't
    # compute things twice; §5: the cached frame is 10 rows). The
    # merge-hinted SMJ + AQE skew split is pinned on the shared
    # pipeline builder (tests/test_plans.py drives
    # ``_skew_rollup_pipelines`` directly, since the persist hides the
    # join behind an InMemoryScan in the RETURNED relation's plan).
    merged, salted = _skew_rollup_pipelines(spark, sf_dir)
    merged = merged.persist()
    m_rows = sorted(map(tuple, merged.collect()))
    s_rows = sorted(map(tuple, salted.collect()))
    salted_matches = m_rows == s_rows
    return merged.select(
        "bucket",
        "n_rows",
        "revenue",
        F.lit(bool(salted_matches)).alias("salted_matches"),
    )


SKEW_HOT_KEY_JOIN_SQL = """
WITH fact AS (
  SELECT CASE WHEN l_orderkey % 5 < 2 THEN 1 ELSE l_orderkey END AS key,
         l_extendedprice
  FROM lineitem
),
dim AS (
  SELECT DISTINCT key, CAST(key % 10 AS INTEGER) AS bucket FROM fact
)
SELECT d.bucket,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(f.l_extendedprice AS DECIMAL(12,2)))
            AS DECIMAL(18,2)) AS revenue,
       TRUE AS salted_matches
FROM fact f JOIN dim d ON f.key = d.key
GROUP BY d.bucket
"""


JOIN_GROUPING_QUERIES = {
    "shipments_in_order_windows": shipments_in_order_windows,
    "skew_hot_key_join": skew_hot_key_join,
    "salted_nation_revenue": salted_nation_revenue,
    "salted_priority_agg": salted_priority_agg,
    "daily_channel_full_outer": daily_channel_full_outer,
    "priority_region_matrix": priority_region_matrix,
    "orders_cube": orders_cube,
    "segment_spend_extremes": segment_spend_extremes,
    "similar_name_pairs": similar_name_pairs,
    "customer_order_distribution": customer_order_distribution,
    "first_order_per_customer": first_order_per_customer,
    "waiting_sole_late_supplier": waiting_sole_late_supplier,
    "idle_rich_customers": idle_rich_customers,
    "top_revenue_supplier": top_revenue_supplier,
    "part_supplier_variety": part_supplier_variety,
    "large_volume_orders": large_volume_orders,
    "regional_min_cost_supplier": regional_min_cost_supplier,
    "nation_market_share": nation_market_share,
    "important_parts_value": important_parts_value,
    "dominant_part_shippers": dominant_part_shippers,
    "shipping_priority_topk": shipping_priority_topk,
    "late_shipment_priority_counts": late_shipment_priority_counts,
    "bilateral_trade_volume": bilateral_trade_volume,
    "product_line_profit": product_line_profit,
    "bloom_pruned_fact_join": bloom_pruned_fact_join,
}

JOIN_GROUPING_ORACLES = {
    "shipments_in_order_windows": SHIPMENTS_IN_ORDER_WINDOWS_SQL,
    "skew_hot_key_join": SKEW_HOT_KEY_JOIN_SQL,
    "salted_nation_revenue": SALTED_NATION_REVENUE_SQL,
    "salted_priority_agg": SALTED_PRIORITY_AGG_SQL,
    "daily_channel_full_outer": DAILY_CHANNEL_FULL_OUTER_SQL,
    "priority_region_matrix": PRIORITY_REGION_MATRIX_SQL,
    "orders_cube": ORDERS_CUBE_SQL,
    "segment_spend_extremes": SEGMENT_SPEND_EXTREMES_SQL,
    "similar_name_pairs": SIMILAR_NAME_PAIRS_SQL,
    "customer_order_distribution": CUSTOMER_ORDER_DISTRIBUTION_SQL,
    "first_order_per_customer": FIRST_ORDER_PER_CUSTOMER_SQL,
    "waiting_sole_late_supplier": WAITING_SOLE_LATE_SUPPLIER_SQL,
    "idle_rich_customers": IDLE_RICH_CUSTOMERS_SQL,
    "top_revenue_supplier": TOP_REVENUE_SUPPLIER_SQL,
    "part_supplier_variety": PART_SUPPLIER_VARIETY_SQL,
    "large_volume_orders": LARGE_VOLUME_ORDERS_SQL,
    "regional_min_cost_supplier": REGIONAL_MIN_COST_SUPPLIER_SQL,
    "nation_market_share": NATION_MARKET_SHARE_SQL,
    "important_parts_value": IMPORTANT_PARTS_VALUE_SQL,
    "dominant_part_shippers": DOMINANT_PART_SHIPPERS_SQL,
    "shipping_priority_topk": SHIPPING_PRIORITY_TOPK_SQL,
    "late_shipment_priority_counts": LATE_SHIPMENT_PRIORITY_COUNTS_SQL,
    "bilateral_trade_volume": BILATERAL_TRADE_VOLUME_SQL,
    "product_line_profit": PRODUCT_LINE_PROFIT_SQL,
    "bloom_pruned_fact_join": BLOOM_PRUNED_FACT_JOIN_SQL,
}
