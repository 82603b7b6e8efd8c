"""Warehouse-analytics query shapes beyond the reference's gold layer:
deep broadcast-dimension join chains, scan-heavy filtered aggregation,
semi/anti joins, and ROLLUP subtotals.

The reference's joins are all single-key equi-joins (SURVEY.md §2.3)
and its aggregations plain GROUP BYs (§2.4); a complete engine also
needs the classic decision-support plan shapes below. Expressed over
the driver's TPC-H-ish testdata with DuckDB oracle twins.

Scale notes (100 TB design):
- ``pricing_summary`` is one scan + one 4-group aggregate: the filter
  and the 7-column projection reach the parquet reader (PushedFilters /
  ReadSchema), partial aggregation collapses each task to <10 rows, so
  shuffle volume is bytes, not rows.
- ``revenue_by_nation`` joins the fact table against a cascade of
  broadcast dimensions (region -> nation -> customer); only
  orders⋈lineitem shuffles, on the join key both sides already share.
- Semi/anti joins ship only the key column of the probe side and stop
  at first match — never materializing the join fan-out.
- ROLLUP computes all grouping sets in one shuffle (Spark expands
  grouping sets map-side), not one pass per level.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olist_lakehouse_2_0_spark.catalog import load
from olist_lakehouse_2_0_spark.fixedpoint import ratio
from olist_lakehouse_2_0_spark.queries.relational import MONEY, MONEY_SUM


# ---------------------------------------------------------------------------
# TPC-H Q1 shape: scan-heavy filtered aggregation with derived measures.
# ---------------------------------------------------------------------------
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary report: per (returnflag, linestatus) totals over
    all items shipped before the cutoff. Disc price / charge are
    computed per row inside the scan projection; every aggregate is
    map-side combinable."""
    li = load(spark, sf_dir, "lineitem", spread=True)
    cutoff = "1998-12-01"
    base = li.filter(F.col("l_shipdate") <= F.lit(cutoff).cast("timestamp"))
    # Sums run over per-row DECIMAL casts: exact and order-independent
    # regardless of partition count (double sums drift at 1000-way
    # parallelism AND diverge from the single-threaded oracle). The
    # per-row double->decimal quantization is itself deterministic, so
    # both engines sum identical exact values. Averages are expressed
    # as exact-sum / count (one double division at the end).
    qty_d = F.col("l_quantity").cast(MONEY)
    price_d = F.col("l_extendedprice").cast(MONEY)
    disc_price_d = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
    ).cast("decimal(28,6)")
    charge_d = (
        F.col("l_extendedprice")
        * (1 - F.col("l_discount"))
        * (1 + F.col("l_tax"))
    ).cast("decimal(28,6)")
    disc_d = F.col("l_discount").cast("decimal(8,6)")
    cnt = F.count(F.lit(1))
    return (
        base.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty_d).cast("double").alias("sum_qty"),
            F.sum(price_d).cast("double").alias("sum_base_price"),
            F.sum(disc_price_d).cast("double").alias("sum_disc_price"),
            F.sum(charge_d).cast("double").alias("sum_charge"),
            (F.sum(qty_d).cast("double") / cnt).alias("avg_qty"),
            (F.sum(price_d).cast("double") / cnt).alias("avg_price"),
            (F.sum(disc_d).cast("double") / cnt).alias("avg_disc"),
            cnt.alias("count_order"),
        )
    )


PRICING_SUMMARY_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(28,6))) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
       CAST(SUM(CAST(l_discount AS DECIMAL(8,6))) AS DOUBLE) / COUNT(*) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-12-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# TPC-H Q5 shape: fact table against a broadcast-dimension cascade.
# ---------------------------------------------------------------------------
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per customer nation within one region and order-date
    year: region -> nation -> customer collapse to one small broadcast
    dimension before touching the fact side, so the only shuffle is
    orders⋈lineitem on the order key."""
    region = load(spark, sf_dir, "region")
    nation = load(spark, sf_dir, "nation")
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders", spread=True)
    lineitem = load(spark, sf_dir, "lineitem", spread=True)

    dims = (
        customer.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region.filter(F.col("r_name") == "ASIA")),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "n_name")
    )
    year_orders = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    revenue = F.col("l_extendedprice").cast(MONEY) * (
        1 - F.col("l_discount").cast("decimal(4,2)")
    )
    return (
        lineitem.join(
            year_orders, F.col("l_orderkey") == F.col("o_orderkey")
        )
        .join(F.broadcast(dims), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.col("n_name").alias("nation"))
        # Keep the sum at its natural scale-4 — a final round-to-cents
        # cast can land exactly on a .xx5 boundary, where Spark rounds
        # HALF_UP and DuckDB HALF_EVEN (observed: 13693067.385 -> .39
        # vs .38). The exact scale-4 decimal converts to the same
        # double on both engines.
        .agg(
            F.sum(revenue).alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
    )


REVENUE_BY_NATION_SQL = """
SELECT n_name AS nation,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
       COUNT(DISTINCT o_orderkey) AS n_orders
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# Semi join: orders from a customer segment (EXISTS), fan-out-free.
# ---------------------------------------------------------------------------
def orders_building_segment_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose customer is in the BUILDING market segment, via
    left-semi join: the probe side ships only c_custkey and the output
    never duplicates orders regardless of the dimension's cardinality."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    building = customer.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("o_custkey")
    )
    return orders.join(F.broadcast(building), "o_custkey", "left_semi").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.col("o_totalprice").cast(MONEY).alias("total_price"),
    )


ORDERS_BUILDING_SEGMENT_SEMI_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus,
       CAST(o_totalprice AS DECIMAL(12,2)) AS total_price
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM customer c
  WHERE c.c_custkey = o.o_custkey AND c.c_mktsegment = 'BUILDING'
)
"""


# ---------------------------------------------------------------------------
# Anti join: customers with no recent orders (NOT EXISTS).
# ---------------------------------------------------------------------------
def customers_inactive_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no orders on/after 2001-01-01, via left-anti
    join — the churn-list shape. The recent-orders side reduces to a
    distinct key set before broadcasting."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    recent = (
        orders.filter(
            F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
        )
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    return customer.join(recent, "c_custkey", "left_anti").select(
        "c_custkey",
        "c_name",
        "c_mktsegment",
        F.col("c_acctbal").cast(MONEY).alias("acctbal"),
    )


CUSTOMERS_INACTIVE_ANTI_SQL = """
SELECT c_custkey, c_name, c_mktsegment,
       CAST(c_acctbal AS DECIMAL(12,2)) AS acctbal
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey
    AND o.o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
)
"""


# ---------------------------------------------------------------------------
# ROLLUP: multi-level subtotals in one shuffle.
# ---------------------------------------------------------------------------
def orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order counts/revenue by (year, status) with ROLLUP subtotals:
    per-(year, status), per-year, and grand total in a single pass —
    Spark expands the grouping sets map-side, one shuffle total."""
    orders = load(spark, sf_dir, "orders", spread=True)
    base = orders.select(
        F.year("o_orderdate").alias("order_year"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").cast(MONEY).alias("price"),
    )
    # avg in exact integer cents (see fixedpoint): a ROLLUP grand total
    # holds every order's cents.
    return (
        base.rollup("order_year", "status")
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


ORDERS_ROLLUP_SQL = """
WITH g AS (
  SELECT YEAR(o_orderdate) AS order_year,
         o_orderstatus AS status,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS revenue,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS cents,
         COUNT(o_totalprice) AS cnt
  FROM orders
  GROUP BY ROLLUP (YEAR(o_orderdate), o_orderstatus)
)
SELECT order_year, status, n_orders, revenue,
       CAST((cents // NULLIF(cnt, 0)) * 10000
            + (2 * (cents % NULLIF(cnt, 0)) * 10000 + cnt)
              // NULLIF(2 * cnt, 0) AS DOUBLE) / 1e6
         AS avg_order_value
FROM g
"""


def returnflag_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (crosstab) aggregation: quantity sums per return flag with
    line statuses spread into columns. The pivot values are declared
    explicitly (['F', 'O']) — at scale that skips the extra distinct
    job Spark otherwise runs to discover them, and keeps the output
    schema static for downstream consumers."""
    lineitem = load(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(12,2)")
    pivoted = (
        lineitem.select("l_returnflag", "l_linestatus", qty.alias("qty"))
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.sum("qty"))
    )
    return pivoted.select(
        "l_returnflag",
        F.col("F").cast("decimal(18,2)").alias("qty_f"),
        F.col("O").cast("decimal(18,2)").alias("qty_o"),
    )


RETURNFLAG_PIVOT_SQL = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN l_linestatus = 'F'
                     THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DECIMAL(18,2)) AS qty_f,
       CAST(SUM(CASE WHEN l_linestatus = 'O'
                     THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DECIMAL(18,2)) AS qty_o
FROM lineitem
GROUP BY l_returnflag
"""


def price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median / p90) of extended price
    per return flag — Spark's ``percentile`` aggregate, which matches
    ANSI ``percentile_cont`` / DuckDB ``quantile_cont`` interpolation.

    Scale note: exact percentiles sort each group's values; for
    100 TB-scale profiling swap in ``approx_percentile`` (KLL-style
    mergeable sketch, same call shape) — the exact form is kept here
    because the oracle gate hash-compares values."""
    lineitem = load(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", 0.5).alias("p50_price"),
        F.percentile("l_extendedprice", 0.9).alias("p90_price"),
        F.avg("l_extendedprice").alias("mean_price"),
        F.count(F.lit(1)).alias("n_rows"),
    )


PRICE_PERCENTILES_SQL = """
SELECT l_returnflag,
       quantile_cont(l_extendedprice, 0.5) AS p50_price,
       quantile_cont(l_extendedprice, 0.9) AS p90_price,
       AVG(l_extendedprice) AS mean_price,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
"""


def approx_quantile_error_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles with a PROVEN rank-error gate (round 8;
    banked from r7). At 100 TB exact percentiles are a full sort per
    group; the scale path is Spark's ``approx_percentile`` — a
    mergeable Greenwald-Khanna quantile summary (map-side partials
    merge associatively, one narrow pass) whose contract is that the
    returned element's RANK is within ``eps*N`` of the target
    ``q*N``, ``eps = 1/accuracy``. A sketch is only trustworthy if
    that contract is CHECKED, so this query measures it: sketch
    estimates at accuracy 200 (0.5 % rank error), then a second
    distributed pass computes each estimate's exact rank interval
    (count <, count <=) and gates it against the bound. The output
    exposes the deterministic pieces — exact interpolated percentiles
    (hash-matched to the oracle's ``quantile_cont``), N, and the
    per-quantile bound booleans; the estimates themselves are
    implementation-defined and never exposed. Driver reads are O(#
    quantiles), never O(N)."""
    QS = (0.25, 0.5, 0.75, 0.95)
    ACC = 200  # eps = 0.5% rank error
    eps = 1.0 / ACC
    vals = load(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("v")
    )
    first = vals.agg(
        F.percentile_approx(
            "v", F.array(*[F.lit(q) for q in QS]), F.lit(ACC)
        ).alias("ap"),
        F.percentile("v", F.array(*[F.lit(q) for q in QS])).alias("ex"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    ap, ex, n = list(first["ap"]), list(first["ex"]), int(first["n"])
    rank_cols = []
    for i, a in enumerate(ap):
        rank_cols.append(
            F.sum((F.col("v") < float(a)).cast("long")).alias(f"lt{i}")
        )
        rank_cols.append(
            F.sum((F.col("v") <= float(a)).cast("long")).alias(f"le{i}")
        )
    ranks = vals.agg(*rank_cols).first()
    rows = []
    for i, q in enumerate(QS):
        # the estimate is within bound iff some rank r of that element
        # — r in (count(<a), count(<=a)] — lands in [qN-epsN, qN+epsN]
        lo, hi = (q - eps) * n, (q + eps) * n
        within = (ranks[f"le{i}"] >= lo) and (ranks[f"lt{i}"] < hi)
        rows.append((float(q), float(ex[i]), n, bool(within)))
    from olist_lakehouse_2_0_spark.localrel import arrow_local_relation

    return arrow_local_relation(
        spark,
        rows,
        "quantile double, exact_value double, n_rows long, "
        "rank_within_bound boolean",
    )


APPROX_QUANTILE_ERROR_GATE_SQL = """
SELECT CAST(0.25 AS DOUBLE) AS quantile,
       CAST(quantile_cont(o_totalprice, 0.25) AS DOUBLE) AS exact_value,
       COUNT(*) AS n_rows, TRUE AS rank_within_bound
FROM orders
UNION ALL
SELECT CAST(0.5 AS DOUBLE),
       CAST(quantile_cont(o_totalprice, 0.5) AS DOUBLE),
       COUNT(*), TRUE
FROM orders
UNION ALL
SELECT CAST(0.75 AS DOUBLE),
       CAST(quantile_cont(o_totalprice, 0.75) AS DOUBLE),
       COUNT(*), TRUE
FROM orders
UNION ALL
SELECT CAST(0.95 AS DOUBLE),
       CAST(quantile_cont(o_totalprice, 0.95) AS DOUBLE),
       COUNT(*), TRUE
FROM orders
"""


# ---------------------------------------------------------------------------
# Unpivot / melt: wide metric columns -> long (metric, value) rows —
# the inverse of returnflag_pivot. Narrow-side reshaping is a metadata
# projection (each input row emits k output rows in place, no shuffle).
# ---------------------------------------------------------------------------
def priority_metrics_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority order metrics reshaped long: one (priority, metric,
    value) row per metric. Values unify to DOUBLE (unpivot requires a
    common value type)."""
    orders = load(spark, sf_dir, "orders")
    wide = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("double").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast(MONEY))
        .cast("double")
        .alias("revenue"),
        F.avg("o_totalprice").alias("avg_price"),
    )
    return wide.unpivot(
        ["o_orderpriority"],
        ["n_orders", "revenue", "avg_price"],
        "metric",
        "value",
    )


PRIORITY_METRICS_UNPIVOT_SQL = """
WITH wide AS (
  SELECT o_orderpriority,
         CAST(COUNT(*) AS DOUBLE) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
         AVG(o_totalprice) AS avg_price
  FROM orders
  GROUP BY o_orderpriority
)
SELECT o_orderpriority, metric, value FROM (
  SELECT o_orderpriority, 'n_orders' AS metric, n_orders AS value FROM wide
  UNION ALL
  SELECT o_orderpriority, 'revenue', revenue FROM wide
  UNION ALL
  SELECT o_orderpriority, 'avg_price', avg_price FROM wide
)
"""


# ---------------------------------------------------------------------------
# GROUPING() markers: distinguish "NULL because rollup total row" from
# "NULL in the data" — the companion feature to ROLLUP/CUBE.
# ---------------------------------------------------------------------------
def orders_rollup_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.grouping("o_orderstatus").cast("int").alias("status_is_total"),
            F.grouping("o_orderpriority").cast("int").alias(
                "priority_is_total"
            ),
        )
    )


ORDERS_ROLLUP_FLAGS_SQL = """
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(GROUPING(o_orderstatus) AS INT) AS status_is_total,
       CAST(GROUPING(o_orderpriority) AS INT) AS priority_is_total
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


# ---------------------------------------------------------------------------
# Percent-of-total WITHOUT a global window: an empty-partitionBy window
# funnels every row through ONE task (Spark warns "No Partition
# Defined"); the scale-correct plan aggregates the total separately and
# broadcasts the scalar back.
# ---------------------------------------------------------------------------
def nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders", spread=True)
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    per_nation = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.col("o_totalprice").cast(MONEY))
            .cast(MONEY_SUM)
            .alias("revenue")
        )
    )
    total = per_nation.agg(
        F.sum("revenue").cast(MONEY_SUM).alias("total_revenue")
    )
    return per_nation.crossJoin(F.broadcast(total)).select(
        "nation",
        "revenue",
        F.round(
            F.col("revenue") * 100.0 / F.col("total_revenue"), 4
        ).alias("revenue_share_pct"),
    )


NATION_REVENUE_SHARE_SQL = """
WITH per_nation AS (
  SELECT n_name AS nation,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2))
           AS revenue
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name
), total AS (
  SELECT CAST(SUM(revenue) AS DECIMAL(18,2)) AS total_revenue FROM per_nation
)
SELECT nation, revenue,
       ROUND(revenue * 100.0 / total_revenue, 4) AS revenue_share_pct
FROM per_nation CROSS JOIN total
"""


# ---------------------------------------------------------------------------
# Disjunctive multi-table predicate (TPC-H Q19 shape): OR of AND-groups
# spanning both join sides. Catalyst splits the disjunction — the parts
# referencing only one relation push below the join, the rest stays as
# the join's residual condition.
# ---------------------------------------------------------------------------
def discounted_revenue_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    li = lineitem.select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = part.select("p_partkey", "p_brand", "p_size")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 35)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 50)
        )
    )
    joined = li.join(
        F.broadcast(p), F.col("l_partkey") == F.col("p_partkey")
    ).filter(cond)
    return joined.agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(18,4)"
            )
        )
        .cast("decimal(18,4)")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


DISCOUNTED_REVENUE_DISJUNCTIVE_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
            AS DECIMAL(18,4)) AS revenue,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30
       AND l_quantity BETWEEN 10 AND 35)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 20 AND 50
       AND l_quantity BETWEEN 20 AND 50)
"""



# The exact grouping-set combination the reference's ROLLUP/CUBE can't
# express: an explicit, non-hierarchical set list. Runs through the SQL
# entry point (catalog.run_sql over registered views) so the driver
# also certifies the spark.sql surface — the DataFrame API queries
# cover everything else.
_GROUPING_SETS_SQL = """
SELECT o_orderstatus AS status,
       o_orderpriority AS priority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS revenue
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderpriority), ())
"""


def orders_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — (status, priority), (priority), grand
    total, but deliberately NOT (status): a set list neither ROLLUP nor
    CUBE produces, via the SQL entry point. One shuffle: Spark expands
    the sets map-side exactly like rollup/cube."""
    from olist_lakehouse_2_0_spark.catalog import run_sql

    return run_sql(spark, sf_dir, _GROUPING_SETS_SQL)


ORDERS_GROUPING_SETS_SQL = _GROUPING_SETS_SQL


ANALYTICS_QUERIES = {
    "orders_grouping_sets": orders_grouping_sets,
    "pricing_summary": pricing_summary,
    "revenue_by_nation": revenue_by_nation,
    "orders_building_segment_semi": orders_building_segment_semi,
    "customers_inactive_anti": customers_inactive_anti,
    "orders_rollup": orders_rollup,
    "returnflag_pivot": returnflag_pivot,
    "price_percentiles": price_percentiles,
    "approx_quantile_error_gate": approx_quantile_error_gate,
    "priority_metrics_unpivot": priority_metrics_unpivot,
    "orders_rollup_flags": orders_rollup_flags,
    "nation_revenue_share": nation_revenue_share,
    "discounted_revenue_disjunctive": discounted_revenue_disjunctive,
}

ANALYTICS_ORACLES = {
    "orders_grouping_sets": ORDERS_GROUPING_SETS_SQL,
    "pricing_summary": PRICING_SUMMARY_SQL,
    "revenue_by_nation": REVENUE_BY_NATION_SQL,
    "orders_building_segment_semi": ORDERS_BUILDING_SEGMENT_SEMI_SQL,
    "customers_inactive_anti": CUSTOMERS_INACTIVE_ANTI_SQL,
    "orders_rollup": ORDERS_ROLLUP_SQL,
    "returnflag_pivot": RETURNFLAG_PIVOT_SQL,
    "price_percentiles": PRICE_PERCENTILES_SQL,
    "approx_quantile_error_gate": APPROX_QUANTILE_ERROR_GATE_SQL,
    "priority_metrics_unpivot": PRIORITY_METRICS_UNPIVOT_SQL,
    "orders_rollup_flags": ORDERS_ROLLUP_FLAGS_SQL,
    "nation_revenue_share": NATION_REVENUE_SHARE_SQL,
    "discounted_revenue_disjunctive": DISCOUNTED_REVENUE_DISJUNCTIVE_SQL,
}
