"""Gap-based session aggregation — batch + Structured Streaming.

The reference's sessionization gap rule (210 s between busy fixes,
``src/AirportTripsRevenue.java:36-38,337-372``) generalizes to Spark's
native ``session_window``: per-key sessions that merge while consecutive
events are closer than the gap. Two surfaces:

- ``session_agg``: batch groupBy(user, session_window(ts, gap)) — the
  engine's generic event-sessionization operator (SURVEY.md §2.4's
  "session window" row). Oracle-checked against a lag/cumsum SQL
  emulation in DuckDB.
- ``session_agg_stream``: the identical aggregation as a streaming query
  with a watermark — late events merge into their session until the
  watermark passes; ``withWatermark`` + append mode emits a session once
  it can no longer change. Cross-checked against the batch result in
  tests (same data via a file stream, availableNow trigger).

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


def session_agg_from(ev: DataFrame, gap_s: int = GAP_S) -> DataFrame:
    # Fixed-point value sum (functions/fixedpoint.py): the BIGINT state also
    # suits the streaming twin — session-merge order in the state store is
    # as nondeterministic as batch partial-merge order.
    grouped = ev.groupBy(
        "user_id", F.session_window("ts", f"{gap_s} seconds").alias("w")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        FP.sum_micro("value").alias("v_u"),
    )
    return grouped.select(
        "user_id",
        F.col("w.start").cast("double").alias("session_start"),
        F.col("w.end").cast("double").alias("session_end"),
        "n_events",
        FP.round_micro("v_u").alias("value_sum"),
    )


def session_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_agg_from(load_table(spark, sf_dir, "events"))


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


def _events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    from mapreduce_hadoop_spark.sources.tables import ensure_confs, normalize_events

    ensure_confs(spark)
    path = f"{sf_dir}/events.parquet"
    # Raw on-disk schema (ts as nanos-long under the nanosAsLong conf, which
    # load_table sets); the stream converts to TimestampType in-flight.
    raw_schema = spark.read.parquet(path).schema
    # The file stream source requires a directory; select the table file(s)
    # with a glob filter ("events*" also admits redelivered copies and
    # continuation files such as events2.parquet).
    reader = spark.readStream.schema(raw_schema).option(
        "pathGlobFilter", "events*.parquet"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return normalize_events(reader.parquet(sf_dir))


def session_agg_stream(
    spark: SparkSession, sf_dir: str, gap_s: int = GAP_S, watermark: str = "2 hours"
) -> DataFrame:
    """The same session aggregation as a Structured Streaming DataFrame.

    Callers attach a sink:
    ``session_agg_stream(spark, d).writeStream.trigger(availableNow=True)...``
    """
    ev = _events_stream(spark, sf_dir)
    return session_agg_from(ev.withWatermark("ts", watermark), gap_s)


def dedup_stream(
    spark: SparkSession, sf_dir: str, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming exactly-once event dedup: watermarked ``dropDuplicates`` on
    the event key.

    The state store remembers each event_id until the watermark passes its
    event time, so a redelivered event inside the horizon is suppressed and
    state is bounded by (watermark x arrival rate) — the streaming twin of
    the batch ``dropDuplicates`` used across the engine (reference combiner
    semantics, ``AirportTripsRevenue.java:216-225``)."""
    ev = _events_stream(spark, sf_dir).withWatermark("ts", watermark)
    return ev.dropDuplicates(["event_id"])


def keyed_dedup_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of ``dedup_stream``, driver-checkable: events plus a
    simulated 10% redelivery (every event_id % 10 == 0 appears twice) run
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


def tumbling_agg_stream(
    spark: SparkSession, sf_dir: str, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming twin of operators/temporal.py::events_tumbling_window.

    Watermarked tumbling windows in append mode: a window's aggregate emits
    exactly once, when the watermark passes its end and no late event can
    merge into it any longer — late rows inside the watermark still update
    their (not-yet-emitted) window, later ones are dropped. State per key is
    one partial aggregate per open window, so the store size is bounded by
    (watermark horizon / window length) x |event types|.
    """
    from pyspark.sql import functions as F

    from mapreduce_hadoop_spark.operators.temporal import TUMBLE_S

    ev = _events_stream(spark, sf_dir).withWatermark("ts", watermark)
    return (
        ev.groupBy(F.window("ts", f"{TUMBLE_S} seconds").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            FP.sum_micro("value").alias("v_u"),
        )
        .select(
            F.col("w.start").cast("double").alias("win_start"),
            "event_type",
            "n",
            FP.round_micro("v_u").alias("value_sum"),
        )
    )
