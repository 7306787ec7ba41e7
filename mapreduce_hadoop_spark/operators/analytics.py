"""General relational analytics over the TPC-H-ish driver tables.

The reference has no joins (SURVEY.md §2.4) — these queries document the
breadth the Spark engine adds for free: broadcast hash joins for dims,
multi-way join chains, grouped aggregation with partial agg, window top-N.

Scale notes (100 TB stance):
- Dimension joins (`region`,`nation`,`customer`,`supplier`,`part`) are
  explicitly `broadcast()` — no shuffle of the fact table for them.
- Fact aggregations reduce before they join where possible (group-then-join
  beats join-then-group when the join is 1:N on the group key).
- Top-N uses window row_number with a deterministic tiebreak, which AQE
  executes as partial top-N per partition before the final sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_hadoop_spark.functions import fixedpoint as FP
from mapreduce_hadoop_spark.sources.tables import load_table

# Money/value aggregates across this module use the fixed-point pattern
# (functions/fixedpoint.py): micro-quantized BIGINT sums + integer
# rounding, mirrored in the oracles — double sums are merge-order-
# dependent and flip rounded values run-to-run at larger SF.


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary over lineitem (pure agg breadth).

    The per-row terms are exact <=6-dp decimals (2-dp money x 2-dp rates),
    so the micro quantization is lossless.
    """
    li = load_table(spark, sf_dir, "lineitem")
    kept = li.filter(F.col("l_shipdate") < F.lit("1998-09-01"))
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    return (
        kept.groupBy("l_returnflag", "l_linestatus")
        .agg(
            FP.sum_micro("l_quantity").alias("qty_u"),
            FP.sum_micro("l_extendedprice").alias("price_u"),
            FP.sum_micro(disc_price).alias("disc_price_u"),
            FP.sum_micro(charge).alias("charge_u"),
            FP.sum_micro("l_discount").alias("disc_u"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            FP.round_micro("qty_u").alias("sum_qty"),
            FP.round_micro("price_u").alias("sum_base_price"),
            FP.round_micro("disc_price_u").alias("sum_disc_price"),
            FP.round_micro("charge_u").alias("sum_charge"),
            FP.avg_micro("qty_u", "count_order").alias("avg_qty"),
            FP.avg_micro("price_u", "count_order").alias("avg_price"),
            FP.avg_micro("disc_u", "count_order").alias("avg_disc"),
            "count_order",
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_DISC_PRICE_SQL = "l_extendedprice * (1.0 - l_discount)"
_CHARGE_SQL = f"{_DISC_PRICE_SQL} * (1.0 + l_tax)"

PRICING_SUMMARY_ORACLE = f"""
WITH g AS (
    SELECT
        l_returnflag,
        l_linestatus,
        {FP.sum_micro_sql("l_quantity")}      AS qty_u,
        {FP.sum_micro_sql("l_extendedprice")} AS price_u,
        {FP.sum_micro_sql(_DISC_PRICE_SQL)}   AS disc_price_u,
        {FP.sum_micro_sql(_CHARGE_SQL)}       AS charge_u,
        {FP.sum_micro_sql("l_discount")}      AS disc_u,
        count(*)                              AS count_order
    FROM lineitem
    WHERE l_shipdate < TIMESTAMP '1998-09-01'
    GROUP BY l_returnflag, l_linestatus
)
SELECT
    l_returnflag,
    l_linestatus,
    {FP.round_micro_sql("qty_u")}        AS sum_qty,
    {FP.round_micro_sql("price_u")}      AS sum_base_price,
    {FP.round_micro_sql("disc_price_u")} AS sum_disc_price,
    {FP.round_micro_sql("charge_u")}     AS sum_charge,
    {FP.avg_micro_sql("qty_u", "count_order")}  AS avg_qty,
    {FP.avg_micro_sql("price_u", "count_order")} AS avg_price,
    {FP.avg_micro_sql("disc_u", "count_order")}  AS avg_disc,
    count_order
FROM g
ORDER BY l_returnflag, l_linestatus
"""


def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way join chain: region -> nation -> customer -> orders -> lineitem.

    Dims are broadcast; the two fact tables join on o_orderkey. lineitem is
    pre-aggregated to per-order revenue BEFORE the join with orders, so the
    join input is one row per order instead of one per line item.
    """
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    # Revenue stays a micro-unit BIGINT through BOTH aggregation stages —
    # no intermediate double anywhere, so partial-merge order cannot move
    # the rounded output.
    per_order = li.groupBy("l_orderkey").agg(
        FP.sum_micro(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        ).alias("rev_u")
    )
    dim = (
        customer.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey", "n_name", "r_name")
    )
    return (
        orders.join(per_order, F.col("o_orderkey") == F.col("l_orderkey"))
        # No explicit broadcast on the customer-sized dim: unlike
        # nation/region it grows with the corpus, and a static hint OOMs the
        # driver once it stops being small (seen at the derived sf1). AQE's
        # size-based decision broadcasts it while it fits and sort-merges
        # beyond — the correct behavior at every scale.
        .join(dim, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.sum("rev_u").alias("rev_u_sum"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            "r_name",
            "n_name",
            FP.round_micro("rev_u_sum").alias("revenue"),
            "n_orders",
        )
        .orderBy("r_name", "n_name")
    )


REVENUE_BY_NATION_ORACLE = f"""
WITH per_order AS (
    SELECT l_orderkey, {FP.sum_micro_sql(_DISC_PRICE_SQL)} AS rev_u
    FROM lineitem GROUP BY l_orderkey
),
g AS (
    SELECT
        r_name,
        n_name,
        CAST(sum(rev_u) AS BIGINT) AS rev_u_sum,
        count(*)                   AS n_orders
    FROM orders
    JOIN per_order ON o_orderkey = l_orderkey
    JOIN customer  ON o_custkey = c_custkey
    JOIN nation    ON c_nationkey = n_nationkey
    JOIN region    ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
)
SELECT r_name, n_name, {FP.round_micro_sql("rev_u_sum")} AS revenue, n_orders
FROM g
ORDER BY r_name, n_name
"""


def top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-N: each customer's 3 highest-value orders."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rank"),
        )
        .filter(F.col("rank") <= 3)
    )


TOP_ORDERS_ORACLE = """
SELECT o_custkey, o_orderkey, o_totalprice, rank
FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC, o_orderkey) AS rank
    FROM orders
)
WHERE rank <= 3
"""


def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: segment filter -> 3-way join -> per-order revenue ->
    global top-10. Customer is broadcast after its segment filter; the
    lineitem shipdate filter pushes to the scan; the final top-10 is a
    TakeOrderedAndProject."""
    cutoff = "1998-06-01"
    customer = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(cutoff)
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit(cutoff))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        # Segment-filtered customer is corpus-proportional: size-based
        # broadcast (AQE), not a static hint (see revenue_by_nation).
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            FP.sum_micro(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
            ).alias("rev_u")
        )
        .select(
            "l_orderkey",
            FP.round_micro("rev_u").alias("revenue"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


SHIPPING_PRIORITY_ORACLE = """
SELECT
    l_orderkey,
    round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
    strftime(o_orderdate, '%Y-%m-%d') AS order_day,
    o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-01'
  AND l_shipdate  > TIMESTAMP '1998-06-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def global_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-100 orders by value: orderBy + limit.

    Catalyst plans this as TakeOrderedAndProject — a bounded per-partition
    heap merged at the driver — NOT a full sort of the table; the plan shape
    is pinned in tests. This is the global-top-k companion to the per-group
    window top-N above.
    """
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


GLOBAL_TOP_ORDERS_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


def market_segment_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-join + grouped avg: customer account balance by segment/nation."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        customer.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_mktsegment", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            FP.sum_micro("c_acctbal").alias("bal_u"),
        )
        .select(
            "c_mktsegment",
            "n_name",
            "n_customers",
            # Balances go negative — the sign-symmetric helper matters here.
            FP.avg_micro("bal_u", "n_customers").alias("avg_balance"),
        )
        .orderBy("c_mktsegment", "n_name")
    )


MARKET_SEGMENT_ORACLE = f"""
WITH g AS (
    SELECT c_mktsegment, n_name,
           count(*) AS n_customers,
           {FP.sum_micro_sql("c_acctbal")} AS bal_u
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY 1, 2
)
SELECT c_mktsegment, n_name, n_customers,
       {FP.avg_micro_sql("bal_u", "n_customers")} AS avg_balance
FROM g
ORDER BY 1, 2
"""


# --- full-outer reconciliation ----------------------------------------------


def customer_activity_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order vs event activity, FULL OUTER joined — the data-
    quality reconciliation shape ("which customers ordered but never show
    in the event log, and vice versa?"). Each side pre-aggregates to one
    row per key BEFORE the join (the 100 TB rule for full outer: join the
    aggregates, never the facts — both inputs shrink to |customers| and
    the join shuffles key-count rows, not fact rows), then presence flags
    come from the join's own NULL pattern.
    """
    orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("cust_id"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    events = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.col("user_id").alias("cust_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    status = (
        F.when(F.col("n_orders").isNull(), F.lit("events_only"))
        .when(F.col("n_events").isNull(), F.lit("orders_only"))
        .otherwise(F.lit("both"))
    )
    return orders.join(events, "cust_id", "full_outer").select(
        "cust_id",
        status.alias("status"),
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
    )


CUSTOMER_RECONCILE_ORACLE = """
WITH o AS (
    SELECT o_custkey AS cust_id, count(*) AS n_orders FROM orders GROUP BY 1
),
e AS (
    SELECT user_id AS cust_id, count(*) AS n_events FROM events GROUP BY 1
)
SELECT coalesce(o.cust_id, e.cust_id) AS cust_id,
       CASE WHEN o.n_orders IS NULL THEN 'events_only'
            WHEN e.n_events IS NULL THEN 'orders_only'
            ELSE 'both' END AS status,
       coalesce(o.n_orders, 0) AS n_orders,
       coalesce(e.n_events, 0) AS n_events
FROM o FULL OUTER JOIN e ON o.cust_id = e.cust_id
"""
