"""The engine's SQL surface: the same plans, declared as `spark.sql` text.

The DataFrame callables elsewhere in operators/ are one face of the
engine; this module pins the other — ANSI SQL over registered views,
including join-strategy hints — by re-expressing the multi-way join query
and checking it against the *same* DuckDB oracle as its DataFrame twin.
Catalyst compiles both to the same physical plan (broadcast dims,
pre-aggregated fact join), which the shared oracle hash certifies.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from mapreduce_hadoop_spark.operators.analytics import REVENUE_BY_NATION_ORACLE
from mapreduce_hadoop_spark.sources.tables import TABLE_NAMES, load_table


def sql_over_tables(spark: SparkSession, sf_dir: str, text: str) -> DataFrame:
    """``spark.sql(text)`` with each testdata table the text names (outside
    ``--`` comments) exposed as a temp view. Only those tables are opened:
    each open is a schema-inference job."""
    code = re.sub(r"--[^\n]*", "", text)
    for t in TABLE_NAMES:
        if re.search(rf"\b{t}\b", code):
            load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(text)


_SQL = """
WITH per_order AS (
    -- Fixed-point micro-unit BIGINT revenue (functions/fixedpoint.py):
    -- double sums are partial-merge-order dependent and flip rounded
    -- values at larger SF (the DataFrame twin of this very query hashed
    -- differently from this SQL twin at a derived sf1 before this).
    SELECT l_orderkey,
           sum(cast(round((l_extendedprice * (1.0 - l_discount)) * 1e6)
                    as bigint)) AS rev_u
    FROM lineitem GROUP BY l_orderkey
),
-- BROADCAST hints only on the fixed-size dims; customer grows with the
-- corpus, so its join strategy is AQE's size-based call (a static hint
-- OOMs the driver once customer stops being small).
g AS (
    SELECT /*+ BROADCAST(nation), BROADCAST(region) */
        r_name,
        n_name,
        sum(rev_u) AS rev_u_sum,
        count(*)   AS n_orders
    FROM orders
    JOIN per_order ON o_orderkey = l_orderkey
    JOIN customer  ON o_custkey = c_custkey
    JOIN nation    ON c_nationkey = n_nationkey
    JOIN region    ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
)
SELECT r_name, n_name,
       sign(rev_u_sum) * ((abs(rev_u_sum) + 50) div 100) / 10000.0 AS revenue,
       n_orders
FROM g
ORDER BY r_name, n_name
"""


def sql_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_over_tables(spark, sf_dir, _SQL)


# Same result contract as the DataFrame twin => same oracle.
SQL_REVENUE_BY_NATION_ORACLE = REVENUE_BY_NATION_ORACLE


# --- correlated scalar subquery (decorrelation surface) ---------------------

# Orders priced above their customer's average order value. Written as the
# textbook CORRELATED scalar subquery on purpose: Catalyst must decorrelate
# it (RewriteCorrelatedScalarSubquery) into an aggregate + join — the
# difference between a plan that runs one subquery PER ROW (how a naive
# engine executes this shape; quadratic, dead at any scale) and one
# aggregation plus one join (linear). tests/test_plans.py pins the
# decorrelated shape. Fixed-point micro-unit comparison so the predicate
# is exact on both engines.
_SQL_ABOVE_AVG = """
SELECT o_orderkey, o_custkey,
       cast(round(o_totalprice * 1e6) as bigint) AS price_u
FROM orders o
WHERE cast(round(o_totalprice * 1e6) as bigint) > (
    SELECT avg(cast(round(o2.o_totalprice * 1e6) as bigint))
    FROM orders o2
    WHERE o2.o_custkey = o.o_custkey
)
"""


def sql_orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_over_tables(spark, sf_dir, _SQL_ABOVE_AVG)


# DuckDB decorrelates the identical text natively — same SQL, same result.
SQL_ABOVE_AVG_ORACLE = _SQL_ABOVE_AVG
