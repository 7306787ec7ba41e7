"""Gap-based session aggregation and keyed event dedup over the events
table.

The reference's sessionization gap rule (210 s between busy fixes,
``src/AirportTripsRevenue.java:36-38,337-372``) generalizes to Spark's
native ``session_window``: per-key sessions that merge while consecutive
events are closer than the gap. ``session_agg`` is the batch
groupBy(user, session_window(ts, gap)) — the engine's generic
event-sessionization operator (SURVEY.md §2.4's "session window" row),
oracle-checked against a lag/cumsum SQL emulation in DuckDB.

Semantics note: Spark merges sessions while ``next.start < prev.end``
(strict), i.e. a new session starts when the delta >= gap — unlike the
reference's trip rule (closes only when delta > 210). The oracle emulation
uses the session_window semantics here; the reference semantics live in
operators/sessionize.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_hadoop_spark.functions import fixedpoint as FP
from mapreduce_hadoop_spark.sources.tables import load_table

GAP_S = 3600  # 1 h: the events stream's natural inter-event scale


def session_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Fixed-point value sum (functions/fixedpoint.py): session-merge order
    # is as nondeterministic as batch partial-merge order.
    grouped = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", F.session_window("ts", f"{GAP_S} seconds").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            FP.sum_micro("value").alias("v_u"),
        )
    )
    return grouped.select(
        "user_id",
        F.col("w.start").cast("double").alias("session_start"),
        F.col("w.end").cast("double").alias("session_end"),
        "n_events",
        FP.round_micro("v_u").alias("value_sum"),
    )


SESSION_AGG_ORACLE = f"""
WITH e AS (
    SELECT user_id, epoch(ts) AS t, "value"
    FROM events
),
lagged AS (
    SELECT *, lag(t) OVER (PARTITION BY user_id ORDER BY t) AS prev_t FROM e
),
flagged AS (
    SELECT *, CASE WHEN prev_t IS NULL OR t - prev_t >= {GAP_S} THEN 1 ELSE 0 END AS is_start
    FROM lagged
),
sid AS (
    SELECT *, sum(is_start) OVER (PARTITION BY user_id ORDER BY t
                                  ROWS UNBOUNDED PRECEDING) AS session_id
    FROM flagged
)
SELECT user_id, session_start, session_end, n_events,
       {FP.round_micro_sql("v_u")} AS value_sum
FROM (
    SELECT
        user_id,
        min(t)                 AS session_start,
        max(t) + {GAP_S}.0     AS session_end,
        count(*)               AS n_events,
        {FP.sum_micro_sql('"value"')} AS v_u
    FROM sid
    GROUP BY user_id, session_id
)
"""


def keyed_dedup_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed event dedup (``dropDuplicates`` on the event key, the reference
    combiner semantics of ``AirportTripsRevenue.java:216-225``): events plus
    a simulated 10% redelivery (every event_id % 10 == 0 appears twice) run
    through keyed dedup; exactly one row per event_id must survive.
    Redelivered copies are bit-identical rows, so the surviving row's
    content is deterministic whichever copy wins."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.col("ts").cast("double").alias("t"),
    )
    redelivered = ev.filter(F.col("event_id") % 10 == 0)
    return ev.unionAll(redelivered).dropDuplicates(["event_id"])


# Key-based like the Spark side (one row per event_id), not DISTINCT *:
# the two agree today because redelivered copies are bit-identical, but a
# duplicate event_id with a differing payload would make DISTINCT keep
# both while dropDuplicates keeps one — the oracle must encode the same
# keep-one-per-key contract.
KEYED_DEDUP_ORACLE = """
WITH e AS (
    SELECT event_id, user_id, event_type, "value", epoch(ts) AS t FROM events
),
u AS (
    SELECT * FROM e
    UNION ALL
    SELECT * FROM e WHERE event_id % 10 = 0
)
SELECT event_id, user_id, event_type, "value", t FROM (
    SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY user_id) AS rn
    FROM u
) WHERE rn = 1
"""
