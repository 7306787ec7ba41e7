"""Derived GPS views over the driver's `events` table.

The reference's native inputs (taxi GPS segment files) do not exist in the
driver testdata, so the engine derives a deterministic GPS-shaped stream from
`events` with pure IEEE-double arithmetic, which Spark and DuckDB evaluate
bit-identically. Every GPS query and its DuckDB oracle build on the same
derivation:

- ``positions``: one taxi position per event —
  taxi ≙ user_id, t ≙ epoch(ts)/10 (compressed so consecutive fixes straddle
  the reference's 210 s session gap), lat/lon folded into a ~11 km box around
  SFO (so the airport-radius predicate fires), status M/E from event_type
  (matching the segment-file status domain, FIXTURES.md §1).

- ``trip_endpoints``: one (start, stop) coordinate pair per event over a
  4°x6° box — the Exercise-1 trip shape (FIXTURES.md §2), wide enough that
  the >=80 km histogram clamp triggers.

Portability note: modulo folding is written out as ``x - floor(x/y)*y``
(never ``%``/``fmod``) because DuckDB's ``fmod`` is x-trunc(x/y)*y with
intermediate rounding while Spark's ``%`` is C fmod — they disagree in the
last bits. The explicit form uses only IEEE +,*,/,floor and is identical in
every engine. tests/test_gps.py cross-checks the two dialects value-for-value.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_hadoop_spark.sources.tables import load_table

TIME_COMPRESSION = 40.0  # epoch seconds / 40 → multi-point trips under the 210 s gap
DEMO_AIRPORT_RADIUS_KM = 2.0  # demo-query radius (reference default 1.0 stays in constants)


def fold(x: Column, y: float) -> Column:
    """x folded into [0, y): ``x - floor(x/y)*y`` (engine-portable fmod)."""
    return x - F.floor(x / F.lit(y)) * F.lit(y)


def fold_sql(x: str, y: str) -> str:
    return f"({x} - floor(({x}) / {y}::DOUBLE) * {y}::DOUBLE)"


# --- positions: sessionization-grade stream -------------------------------

POSITIONS_SQL = f"""
SELECT
    user_id                                        AS taxi,
    epoch(ts) / 40.0                               AS t,
    37.58 + {fold_sql('"value"', '0.1')}           AS lat,
    -122.43 + {fold_sql('"value" * 0.618033', '0.1')} AS lon,
    CASE WHEN event_type IN ('click','view','purchase') THEN 'M' ELSE 'E' END AS status,
    event_id,
    CAST(ts AS DATE)                               AS event_date
FROM events
"""


def positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPS-position stream: (taxi, t, lat, lon, status, event_id, event_date)."""
    return positions_from(load_table(spark, sf_dir, "events"))


def positions_from(ev: DataFrame) -> DataFrame:
    """The positions projection of an events relation, batch or streaming."""
    return ev.select(
        F.col("user_id").alias("taxi"),
        (F.col("ts").cast("double") / F.lit(TIME_COMPRESSION)).alias("t"),
        (F.lit(37.58) + fold(F.col("value"), 0.1)).alias("lat"),
        (F.lit(-122.43) + fold(F.col("value") * F.lit(0.618033), 0.1)).alias("lon"),
        F.when(F.col("event_type").isin("click", "view", "purchase"), F.lit("M"))
        .otherwise(F.lit("E"))
        .alias("status"),
        F.col("event_id"),
        F.col("ts").cast("date").alias("event_date"),
    )


# --- trip endpoints: Exercise-1 histogram shape ---------------------------

TRIP_ENDPOINTS_SQL = f"""
SELECT
    event_id,
    user_id                                        AS taxi,
    36.0 + {fold_sql('"value"', '4.0')}            AS start_lat,
    -124.5 + {fold_sql('"value" * 0.618033', '6.0')} AS start_lon,
    36.0 + {fold_sql('"value" * 2.414213', '4.0')} AS stop_lat,
    -124.5 + {fold_sql('"value" * 3.141592', '6.0')} AS stop_lon
FROM events
"""


def trip_endpoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event (start, stop) coordinate pairs for the trip-length histogram."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id"),
        F.col("user_id").alias("taxi"),
        (F.lit(36.0) + fold(F.col("value"), 4.0)).alias("start_lat"),
        (F.lit(-124.5) + fold(F.col("value") * F.lit(0.618033), 6.0)).alias("start_lon"),
        (F.lit(36.0) + fold(F.col("value") * F.lit(2.414213), 4.0)).alias("stop_lat"),
        (F.lit(-124.5) + fold(F.col("value") * F.lit(3.141592), 6.0)).alias("stop_lon"),
    )


# DuckDB SQL text of the plane-projection distance (functions/geo.py) —
# identical operation order so doubles match bit-for-bit.
def distance_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    d2r = "0.017453292519943295"  # math.pi / 180, repr-exact
    return (
        f"6371.009 * sqrt("
        f"pow(({lat1} - {lat2}) * {d2r}, 2) + "
        f"pow(cos(({lat1} + {lat2}) * {d2r} / 2) * (({lon1} - {lon2}) * {d2r}), 2))"
    )
