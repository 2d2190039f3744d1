"""Relational core: joins, multi-way joins, top-K, grouped aggregates.

The reference itself needs no joins (SURVEY.md §2.5 — its only
"join-like" behavior is Grafana correlating panels visually), but a
complete engine must provide them; these queries exercise the join /
window-function / top-K surface over the driver's TPC-H-ish fixtures.

Scale posture baked into each plan:
* dimension tables are ``F.broadcast``-hinted — no shuffle of the fact
  side for star joins (at 100 TB the fact table never moves);
* top-K uses ``orderBy().limit()`` → Catalyst's TakeOrderedAndProject
  (per-partition heap + driver merge of K rows, not a global sort);
* per-group top-K uses a rank window, one shuffle on the group key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cdc_realtime_pipeline_spark.session import load_table


def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary: scan → partial agg → final agg."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
            F.round(F.sum(charge), 4).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


TPCH_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4) AS sum_qty,
       round(sum(l_extendedprice), 4) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def revenue_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: customer ⋈ orders ⋈ lineitem, top-10 revenue.

    ``customer`` is broadcast (small dim); orders⋈lineitem shuffles on
    the join key once; the top-10 is TakeOrderedAndProject.
    """
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


REVENUE_TOP_ORDERS_SQL = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped 5-way star join; all dims broadcast."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    dims = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "n_name", "r_name")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(dims), orders.o_custkey == dims.c_custkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            ),
            F.count("*").alias("n_lineitems"),
        )
        .orderBy("r_name", F.desc("revenue"), "n_name")
    )


REGION_REVENUE_SQL = """
SELECT r_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       count(*) AS n_lineitems
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY r_name, revenue DESC, n_name
"""


def top_parts_per_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 lineitems per supplier by extended price (rank window)."""
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_suppkey").orderBy(
        F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")
    )
    return (
        li.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "l_suppkey",
            "rk",
            "l_orderkey",
            "l_linenumber",
            F.round("l_extendedprice", 4).alias("price"),
        )
        .orderBy("l_suppkey", "rk")
    )


TOP_PARTS_PER_SUPPLIER_SQL = """
WITH ranked AS (
  SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
         row_number() OVER (PARTITION BY l_suppkey
                            ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC) AS rk
  FROM lineitem
)
SELECT l_suppkey, rk, l_orderkey, l_linenumber, round(l_extendedprice, 4) AS price
FROM ranked WHERE rk <= 3
ORDER BY l_suppkey, rk
"""


def order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped: semi-join existence check + grouped count."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity") > 45
    )
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


ORDER_PRIORITY_COUNTS_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join (NOT EXISTS) — the set-difference surface.

    Against *urgent* orders specifically: every fixture customer has
    some order, so the unfiltered anti-join is vacuously empty."""
    cust = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


CUSTOMERS_WITHOUT_ORDERS_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
ORDER BY c_custkey
"""


def monthly_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed aggregate with grouping over a derived month column —
    the batch shape of the reference's toYYYYMM partitioning
    (clickhouse/init.sql:25)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("month"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("total_price"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        )
        .orderBy("month")
    )


MONTHLY_ORDER_STATS_SQL = """
SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
       count(*) AS n_orders,
       round(sum(o_totalprice), 4) AS total_price,
       round(avg(o_totalprice), 4) AS avg_price
FROM orders
GROUP BY 1 ORDER BY 1
"""


def order_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts by priority × status (fixed pivot values →
    stays a single hash aggregate, no extra pass to discover columns)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
        .orderBy("o_orderpriority")
    )


ORDER_STATUS_PIVOT_SQL = """
SELECT o_orderpriority,
       count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS "O",
       count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS "F",
       count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS "P"
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def lineitem_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping-sets aggregate (free in Spark SQL; SURVEY §2.3)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 4).alias("sum_qty"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(), F.col("l_linestatus").asc_nulls_first()
        )
    )


LINEITEM_ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus, count(*) AS n, round(sum(l_quantity), 4) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
"""


def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 forecasting revenue: pure filter-and-sum — the query
    whose whole cost is scan efficiency (all predicates push down)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias("revenue"))
    )


TPCH_Q6_SQL = """
SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def tpch_q12_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-shaped: join + conditional counts by category (the
    reference's bid/ask split shape over a join)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.count(F.when(urgent, 1)).alias("high_line_count"),
            F.count(F.when(~urgent, 1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


TPCH_Q12_LIKE_SQL = """
SELECT l_linestatus,
       count(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 END) AS high_line_count,
       count(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 END) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


def tpch_q14_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped: promo revenue share — conditional-sum ratio
    over a broadcast part join."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-10-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.col("p_type") == "ECONOMY"  # fixture p_type domain: ECONOMY/.../STANDARD
    return li.join(F.broadcast(part), li.l_partkey == part.p_partkey).agg(
        F.round(
            F.lit(100.0) * F.sum(F.when(promo, rev).otherwise(0.0)) / F.sum(rev), 4
        ).alias("economy_revenue_pct")
    )


TPCH_Q14_LIKE_SQL = """
SELECT round(100.0 * sum(CASE WHEN p_type = 'ECONOMY'
                              THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
              / sum(l_extendedprice * (1 - l_discount)), 4) AS economy_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1995-09-01' AND l_shipdate < TIMESTAMP '1995-10-01'
"""


def set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION surface: users who purchased but
    never errored, intersected with high-value users."""
    ev = load_table(spark, sf_dir, "events")
    purchasers = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    error_heavy = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 15)
        .select("user_id")
    )
    high_value = (
        ev.groupBy("user_id")
        .agg(F.sum("value").alias("total"))
        .filter(F.col("total") > 3000)
        .select("user_id")
    )
    return (
        purchasers.exceptAll(error_heavy).intersect(high_value).orderBy("user_id")
    )


SET_OPERATIONS_SQL = """
(SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
 EXCEPT
 SELECT user_id FROM events WHERE event_type = 'error'
 GROUP BY user_id HAVING count(*) >= 15)
INTERSECT
SELECT user_id FROM events GROUP BY user_id HAVING sum(value) > 3000
ORDER BY user_id
"""


def big_orders_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped: HAVING over a grouped subquery feeding a join
    — the aggregate-then-join shape."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .select(
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 4).alias("o_totalprice"),
            F.round("total_qty", 4).alias("total_qty"),
        )
    )


BIG_ORDERS_HAVING_SQL = """
SELECT o_orderkey, o_orderdate, round(o_totalprice, 4) AS o_totalprice,
       round(total_qty, 4) AS total_qty
FROM orders
JOIN (SELECT l_orderkey, sum(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150) big
  ON o_orderkey = big.l_orderkey
"""


def array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/collection function surface over collected per-user event
    types: sort, distinct, set ops, size, membership. Array-typed
    intermediates are serialized with ``array_join`` in the output —
    the driver's pandas canonicalizer cannot hash list values."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    per_user = ev.groupBy("user_id").agg(
        F.array_sort(F.array_distinct(F.collect_list("event_type"))).alias("types")
    )
    return per_user.select(
        "user_id",
        F.array_join("types", ",").alias("types"),
        F.size("types").alias("n_types"),
        F.array_contains("types", "error").alias("has_error"),
        F.array_join(
            F.array_sort(
                F.array_except("types", F.array(F.lit("click"), F.lit("view")))
            ),
            ",",
        ).alias("non_browse"),
        F.array_join(
            F.sort_array(
                F.array_intersect("types", F.array(F.lit("purchase"), F.lit("signup")))
            ),
            ",",
        ).alias("conversion"),
    ).orderBy("user_id")


ARRAY_FUNCTIONS_SQL = """
WITH per_user AS (
  SELECT user_id, list_sort(list_distinct(list(event_type))) AS types
  FROM events WHERE user_id < 20 GROUP BY user_id
)
SELECT user_id,
       array_to_string(types, ',') AS types,
       len(types) AS n_types,
       list_contains(types, 'error') AS has_error,
       array_to_string(list_sort(list_filter(types, t -> t NOT IN ('click', 'view'))), ',') AS non_browse,
       array_to_string(list_sort(list_filter(types, t -> t IN ('purchase', 'signup'))), ',') AS conversion
FROM per_user ORDER BY user_id
"""


def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped correlated aggregate: lineitems below 50% of
    their part's average quantity. The correlated subquery becomes a
    per-key window average — one shuffle, no per-row subquery
    execution (the decorrelation Catalyst would do expressed
    directly)."""
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_partkey")
    flagged = li.withColumn("avg_qty", F.avg("l_quantity").over(w))
    return flagged.filter(F.col("l_quantity") < 0.5 * F.col("avg_qty")).agg(
        F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"),
        F.count("*").alias("n_small"),
    )


SMALL_QUANTITY_REVENUE_SQL = """
WITH flagged AS (
  SELECT *, avg(l_quantity) OVER (PARTITION BY l_partkey) AS avg_qty
  FROM lineitem
)
SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly, count(*) AS n_small
FROM flagged WHERE l_quantity < 0.5 * avg_qty
"""


def disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped disjunctive predicate join: OR-of-ANDs over
    part attributes x lineitem ranges — the shape that tests predicate
    handling (each disjunct still prunes via the join key)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("l_quantity").between(1, 15)) & (F.col("p_size") <= 20))
        | ((F.col("p_brand") == "Brand#2") & (F.col("l_quantity").between(10, 25)) & (F.col("p_size") <= 30))
        | ((F.col("p_type") == "ECONOMY") & (F.col("l_quantity") >= 30))
    )
    return j.filter(cond).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
        F.count("*").alias("n"),
    )


DISJUNCTIVE_REVENUE_SQL = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue, count(*) AS n
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 15 AND p_size <= 20)
   OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 25 AND p_size <= 30)
   OR (p_type = 'ECONOMY' AND l_quantity >= 30)
"""


def cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped: the minimum-cost row per group selected via a
    rank window over a join (correlated-min decorrelated)."""
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    j = li.join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
    w = Window.partitionBy("l_partkey").orderBy(
        F.asc("l_extendedprice"), F.asc("l_suppkey"), F.asc("l_orderkey"), F.asc("l_linenumber")
    )
    return (
        j.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "l_partkey",
            "s_name",
            F.round("l_extendedprice", 4).alias("best_price"),
        )
    )


CHEAPEST_SUPPLIER_PER_PART_SQL = """
WITH ranked AS (
  SELECT l_partkey, s_name, l_extendedprice,
         row_number() OVER (PARTITION BY l_partkey
                            ORDER BY l_extendedprice ASC, l_suppkey ASC,
                                     l_orderkey ASC, l_linenumber ASC) AS rk
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
)
SELECT l_partkey, s_name, round(l_extendedprice, 4) AS best_price
FROM ranked WHERE rk = 1
"""


def revenue_share_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total via an unpartitioned window over the aggregate
    (two-level: group first, then a single-row-broadcast-sized window
    over the grouped result — never a window over the raw fact)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    per_nation = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))
    )
    w = Window.partitionBy()
    return per_nation.select(
        "n_name",
        F.round("rev", 4).alias("revenue"),
        F.round(F.lit(100.0) * F.col("rev") / F.sum("rev").over(w), 4).alias("pct_of_total"),
    )


REVENUE_SHARE_PER_NATION_SQL = """
WITH per_nation AS (
  SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS rev
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name
)
SELECT n_name, round(rev, 4) AS revenue,
       round(100.0 * rev / sum(rev) OVER (), 4) AS pct_of_total
FROM per_nation
"""


def cumulative_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running cumulative sum per key over day buckets — the
    running-total dashboard shape."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.sum("value").alias("day_value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return daily.select(
        "user_id",
        "day",
        F.round("day_value", 4).alias("day_value"),
        F.round(F.sum("day_value").over(w), 4).alias("running_value"),
    )


CUMULATIVE_DAILY_VALUE_SQL = """
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS day, sum(value) AS day_value
  FROM events WHERE user_id < 10 GROUP BY 1, 2
)
SELECT user_id, CAST(day AS TIMESTAMP) AS day,
       round(day_value, 4) AS day_value,
       round(sum(day_value) OVER (PARTITION BY user_id ORDER BY day
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
         AS running_value
FROM daily
"""


def skewed_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key fact⋈dim join under explicit R-way salting — the manual
    remedy when one join key holds a large fraction of the fact side
    (AQE's skew-join split handles sort-merge cases; salting is the
    portable form that also covers hash joins and pre-AQE engines).

    A synthetic hot key (30% of fact rows collapse onto key 0) joins a
    per-user dim: the fact side carries ``salt = event_id % R``, the
    dim side explodes ×R, and the join runs on (key, salt) — the hot
    key's rows spread over R reducers instead of one straggler.
    Salting is answer-invariant, so the oracle is the plain unsalted
    join.
    """
    r_salt = 8
    ev = load_table(spark, sf_dir, "events")
    fact = ev.select(
        F.when(F.col("event_id") % 10 < 3, F.lit(0))
        .otherwise(F.col("user_id"))
        .alias("k"),
        "value",
        (F.col("event_id") % r_salt).alias("salt"),
    )
    dim = (
        ev.groupBy(F.col("user_id").alias("k"))
        .agg(
            F.concat(F.lit("seg-"), (F.min("event_id") % 5).cast("string")).alias(
                "segment"
            )
        )
    )
    dim_salted = dim.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(r_salt)]))
    )
    return (
        fact.join(dim_salted, ["k", "salt"])
        .groupBy("segment")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total"))
        .orderBy("segment")
    )


SKEWED_JOIN_SALTED_SQL = """
WITH fact AS (
  SELECT CASE WHEN event_id % 10 < 3 THEN 0 ELSE user_id END AS k, value
  FROM events
),
dim AS (
  SELECT user_id AS k, 'seg-' || CAST(min(event_id) % 5 AS VARCHAR) AS segment
  FROM events GROUP BY user_id
)
SELECT segment, count(*) AS n, round(sum(value), 4) AS total
FROM fact JOIN dim USING (k)
GROUP BY segment ORDER BY segment
"""


def join_types_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-type conformance sweep: row counts from every join flavor —
    inner/left/right/full/semi/anti on customer⋈orders (fact keys),
    cross on nation×region (dims ONLY: an unkeyed cross is dim-sized by
    construction; facts never cross-join). One row per type, so the
    whole join surface is pinned by a single gate row.
    """
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey")
    region = load_table(spark, sf_dir, "region").select("r_regionkey")
    on = cust.c_custkey == orders.o_custkey

    def cnt(tag: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count("*").alias("n")).select(
            F.lit(tag).alias("join_type"), "n"
        )

    out = (
        cnt("1_inner", cust.join(orders, on, "inner"))
        .unionByName(cnt("2_left", cust.join(orders, on, "left")))
        .unionByName(cnt("3_right", cust.join(orders, on, "right")))
        .unionByName(cnt("4_full", cust.join(orders, on, "full")))
        .unionByName(cnt("5_semi", cust.join(orders, on, "left_semi")))
        .unionByName(cnt("6_anti", cust.join(orders, on, "left_anti")))
        .unionByName(cnt("7_cross", nation.crossJoin(region)))
    )
    return out.orderBy("join_type")


JOIN_TYPES_CONFORMANCE_SQL = """
SELECT '1_inner' AS join_type, count(*) AS n FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
UNION ALL
SELECT '2_left', count(*) FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
UNION ALL
SELECT '3_right', count(*) FROM customer c RIGHT JOIN orders o ON c.c_custkey = o.o_custkey
UNION ALL
SELECT '4_full', count(*) FROM customer c FULL JOIN orders o ON c.c_custkey = o.o_custkey
UNION ALL
SELECT '5_semi', count(*) FROM customer c WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
UNION ALL
SELECT '6_anti', count(*) FROM customer c WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
UNION ALL
SELECT '7_cross', count(*) FROM nation CROSS JOIN region
ORDER BY join_type
"""


def bloom_semijoin_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join reduction via an explicit Bloom filter: revenue of
    lineitems belonging to high-value orders (o_totalprice > 400k),
    computed as bloom-prefilter → exact LEFT SEMI join.

    The pattern is Spark's own runtime row-level filtering
    (InjectRuntimeFilter) made explicit for the cases the optimizer
    can't reach: pruning a 100 TB fact table BEFORE its shuffle against
    a build side that is too large to broadcast but whose key SET fits
    a few MB of bloom bits. Catalyst's ``BloomFilterAggregate`` is not
    in the public function registry (UNRESOLVED_ROUTINE from SQL), so
    the filter is built from built-ins and stays whole-stage-codegen:
    m = 2²⁰ bits, k = 1 hash (``xxhash64 mod m`` — engine-local, the
    hash never crosses to the oracle), packed into 2¹⁴64-bit words
    via ``bit_or`` and applied with a broadcast equi-join on word index
    + a bit test. False positives (~0.4% at this key count) are
    removed by the exact LEFT SEMI join that follows, so the result is
    bit-identical to the plain semi join the oracle runs — the bloom
    only changes how many fact rows reach that shuffle.
    ``n_pruned_in`` pins that the prefilter admitted every qualifying
    row (no false negatives — the Bloom guarantee).
    """
    nbits = 1 << 20
    hv = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .select("o_orderkey")
    )

    def _with_bit(df: DataFrame, col: str, *keep: str) -> DataFrame:
        pos = F.pmod(F.xxhash64(col), F.lit(nbits))
        return df.select(*keep, pos.alias("pos")).select(
            *keep,
            F.floor(F.col("pos") / 64).alias("word_idx"),
            F.expr("shiftleft(1L, cast(pos % 64 AS int))").alias("bit"),
        )

    bitmap = (
        _with_bit(hv, "o_orderkey")
        .groupBy("word_idx")
        .agg(F.bit_or("bit").alias("word"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    pruned = _with_bit(
        li, "l_orderkey", "l_orderkey", "l_extendedprice", "l_discount"
    ).join(F.broadcast(bitmap), "word_idx").filter(
        F.col("word").bitwiseAND(F.col("bit")) != 0
    )
    exact = pruned.join(hv, pruned.l_orderkey == hv.o_orderkey, "left_semi")
    return exact.agg(
        F.count("*").alias("n_pruned_in"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) + 1e-9, 2
        ).alias("hv_revenue"),
    )


BLOOM_SEMIJOIN_REDUCTION_SQL = """
SELECT count(*) AS n_pruned_in,
       count(DISTINCT l_orderkey) AS n_orders,
       round(sum(l_extendedprice * (1 - l_discount)) + 1e-9, 2) AS hv_revenue
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000)
"""


def tpch_q21_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting) — the
    textbook DOUBLE-correlated subquery: lineitems of finished orders
    where this supplier shipped late (> 60 days after the order
    date), ``EXISTS`` another supplier on the same order, ``NOT
    EXISTS`` another LATE supplier on the same order; count per
    supplier, top 20.

    Deliberately NOT a translation of the SQL shape: per order, one
    aggregation computes (distinct suppliers, distinct late
    suppliers, the late supplier's key when unique), and the
    EXISTS/NOT-EXISTS pair collapses to ``n_sup > 1 AND n_late = 1``
    — Q21's classic 4-way self-join becomes ONE l_orderkey shuffle.
    The oracle runs the textbook correlated form, so the gate proves
    the aggregate rewrite semantically equivalent to the
    EXISTS/NOT-EXISTS original, cross-engine.

    Scale: one fact join (orders broadcast-eligible per AQE), one
    keyed agg, one supplier-count agg + TakeOrdered(20).
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    l = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate").cast("date")
            > F.date_add(F.col("o_orderdate").cast("date"), 60)
        ).alias("late"),
    )
    per_order = l.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_sup"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias(
            "n_late"
        ),
        F.max(F.when(F.col("late"), F.col("l_suppkey"))).alias("late_sup"),
    )
    return (
        per_order.filter((F.col("n_sup") > 1) & (F.col("n_late") == 1))
        .groupBy(F.col("late_sup").alias("l_suppkey"))
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("l_suppkey"))
        .limit(20)
    )


TPCH_Q21_LIKE_SQL = """
WITH l AS (
  SELECT l_orderkey, l_suppkey,
         CAST(l_shipdate AS DATE) >
           CAST(o_orderdate AS DATE) + INTERVAL 60 DAY AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
)
SELECT l1.l_suppkey, count(DISTINCT l1.l_orderkey) AS numwait
FROM l l1
WHERE l1.late
  AND EXISTS (
    SELECT 1 FROM l l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM l l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.late
  )
GROUP BY l1.l_suppkey
ORDER BY numwait DESC, l1.l_suppkey ASC
LIMIT 20
"""


def tpch_q18_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): orders whose lineitems sum
    past 300 units, joined back to customer detail — the
    aggregate-subquery semijoin shape (IN over a GROUP BY … HAVING).

    Scale posture: the HAVING aggregate and the detail re-aggregate
    both shuffle on l_orderkey, so Catalyst/AQE plans the semijoin
    between them without re-shuffling either side (same-key exchange
    reuse); customer joins the ~0.5%-selectivity survivor set (AQE
    broadcasts it at runtime — no hint, the survivor count is data-
    dependent); the top-100 is TakeOrderedAndProject.
    """
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 300)
        .select("l_orderkey")
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        li.join(big, "l_orderkey", "left_semi")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 4).alias("total_qty"))
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderdate"), F.asc("o_orderkey"))
        .limit(100)
    )


TPCH_Q18_LIKE_SQL = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       round(sum(l_quantity), 4) AS total_qty
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE l.l_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING sum(l_quantity) > 300
)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderdate ASC, o_orderkey ASC
LIMIT 100
"""


QUERIES = {
    "tpch_q21_like": tpch_q21_like,
    "tpch_q1": tpch_q1,
    "tpch_q18_like": tpch_q18_like,
    "bloom_semijoin_reduction": bloom_semijoin_reduction,
    "tpch_q6": tpch_q6,
    "tpch_q12_like": tpch_q12_like,
    "tpch_q14_like": tpch_q14_like,
    "small_quantity_revenue": small_quantity_revenue,
    "disjunctive_revenue": disjunctive_revenue,
    "cheapest_supplier_per_part": cheapest_supplier_per_part,
    "revenue_share_per_nation": revenue_share_per_nation,
    "cumulative_daily_value": cumulative_daily_value,
    "set_operations": set_operations,
    "big_orders_having": big_orders_having,
    "array_functions": array_functions,
    "revenue_top_orders": revenue_top_orders,
    "region_revenue": region_revenue,
    "top_parts_per_supplier": top_parts_per_supplier,
    "order_priority_counts": order_priority_counts,
    "customers_without_orders": customers_without_orders,
    "monthly_order_stats": monthly_order_stats,
    "order_status_pivot": order_status_pivot,
    "lineitem_rollup": lineitem_rollup,
    "skewed_join_salted": skewed_join_salted,
    "join_types_conformance": join_types_conformance,
}

ORACLES = {
    "tpch_q21_like": TPCH_Q21_LIKE_SQL,
    "join_types_conformance": JOIN_TYPES_CONFORMANCE_SQL,
    "bloom_semijoin_reduction": BLOOM_SEMIJOIN_REDUCTION_SQL,
    "tpch_q18_like": TPCH_Q18_LIKE_SQL,
    "tpch_q1": TPCH_Q1_SQL,
    "tpch_q6": TPCH_Q6_SQL,
    "tpch_q12_like": TPCH_Q12_LIKE_SQL,
    "tpch_q14_like": TPCH_Q14_LIKE_SQL,
    "small_quantity_revenue": SMALL_QUANTITY_REVENUE_SQL,
    "disjunctive_revenue": DISJUNCTIVE_REVENUE_SQL,
    "cheapest_supplier_per_part": CHEAPEST_SUPPLIER_PER_PART_SQL,
    "revenue_share_per_nation": REVENUE_SHARE_PER_NATION_SQL,
    "cumulative_daily_value": CUMULATIVE_DAILY_VALUE_SQL,
    "set_operations": SET_OPERATIONS_SQL,
    "big_orders_having": BIG_ORDERS_HAVING_SQL,
    "array_functions": ARRAY_FUNCTIONS_SQL,
    "revenue_top_orders": REVENUE_TOP_ORDERS_SQL,
    "region_revenue": REGION_REVENUE_SQL,
    "top_parts_per_supplier": TOP_PARTS_PER_SUPPLIER_SQL,
    "order_priority_counts": ORDER_PRIORITY_COUNTS_SQL,
    "customers_without_orders": CUSTOMERS_WITHOUT_ORDERS_SQL,
    "monthly_order_stats": MONTHLY_ORDER_STATS_SQL,
    "order_status_pivot": ORDER_STATUS_PIVOT_SQL,
    "lineitem_rollup": LINEITEM_ROLLUP_SQL,
    "skewed_join_salted": SKEWED_JOIN_SALTED_SQL,
}
