"""Dimension enrich: events joined to their customer's market segment.

The batch projection of a stream-static enrich (each event joined to a
static dimension). No broadcast hint: customer grows with the corpus, and
the size-based (AQE) strategy broadcasts it while small and sort-merges
beyond (same rationale as revenue_by_nation's dim).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_hadoop_spark.sources.tables import load_table


def enriched_events_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return (
        load_table(spark, sf_dir, "events")
        .join(cust, "user_id")
        .select("event_id", "user_id", "c_mktsegment", "value")
    )


ENRICHED_EVENTS_ORACLE = """
SELECT e.event_id, e.user_id, c.c_mktsegment, e."value"
FROM events e
JOIN customer c ON c.c_custkey = e.user_id
"""
