"""Exercise 2 Job 1, trip sessionization (SURVEY.md §2.2, operator O15).

The reference's core kernel (``src/AirportTripsRevenue.java:275-407``): a
state machine over each taxi's time-ordered positions. Transitions:

- E->M opens a trip at the current point.
- M->M with gap <= 210 s extends it (accumulate distance, move the endpoint,
  OR-in the airport flag) — unless the implied speed exceeds 180 km/h, in
  which case the *point is dropped* and the previous point stays "previous"
  (order-dependent: ``:317-335``).
- M->M with gap > 210 s closes the trip at the previous point and opens a
  new one at the current point.
- M->E closes the trip at the previous point.

A closed trip is emitted only when cumulated distance >= 0.1 km and it
touched the airport radius; revenue = 3.5 + 1.71 * distance.

Three implementations, per SURVEY.md §7 step 4:

1. ``sessionize_window`` (engine default, SQL-expressible, one shuffle):
   lag() over (partition by taxi order by t) marks trip starts, a running
   sum turns starts into session ids, groupBy aggregates each session.
   Scales to any data size — it is pure window + hash aggregation, fully
   whole-stage-codegen'd. It does NOT replicate the order-dependent
   speed-drop (a dropped point's successor distance would need the
   *pre-drop* previous point); on data without speed violations it is
   bit-identical to the parity paths (cross-checked in tests).

2. ``sessionize_parity`` (exact reference semantics): the Pandas replay.
   ``replay_core`` transcribes the state machine; ``run_per_taxi`` feeds
   it each taxi's time-ordered positions from an Arrow-batched
   ``mapInPandas`` over taxi-partitioned data. Intentional divergence from
   the reference, documented: state is isolated per taxi (the reference
   leaks reducer state across keys, ``:279-285``), which is the behavior
   the reference *intended* (its partitioner routes whole taxis to one
   reducer precisely so state never has to cross taxis).

3. ``sessionize_parity_sql`` (exact reference semantics, JVM only): the
   same machine as a per-taxi ``F.aggregate`` fold; it backs the
   registered ``airport_trips_parity``.

The machine's whole state between two positions is one ``Carrier`` row
(previous fix + open-trip accumulator, in ``STATE_SCHEMA`` order).
``replay_core`` takes and returns it, so the streaming operator
(``streaming/trips.py``) stores it in the state store as is and resumes a
taxi exactly where the previous micro-batch left it.

All paths leave trailing open trips unemitted, exactly like the reference
(a trip still open at end-of-input is never written).
"""

from __future__ import annotations

import math
from collections import namedtuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_hadoop_spark import constants as C
from mapreduce_hadoop_spark.functions.geo import (
    is_airport_position,
    spherical_earth_distance,
)
from mapreduce_hadoop_spark.operators import gps

# Start fee in nano-units for the fixed-point revenue derivation (see
# sessionize_window docstring/comments).
_START_FEE_NANO = int(round(C.START_FEE * 1e9))


def _round6_py(x: float) -> float:
    """6-dp HALF_UP via floor(x*1e6 + 0.5)/1e6 — pure IEEE multiply/add/
    floor, so the Python and JVM parity arms produce the identical double
    BY CONSTRUCTION. (Python round() rounds the exact binary value HALF_
    EVEN while F.bround goes through BigDecimal.valueOf's shortest decimal
    repr; their agreement on 6-dp ties was only empirical.) Inputs are
    non-negative (distances/fees), where floor(x+0.5) == HALF_UP."""
    return math.floor(x * 1e6 + 0.5) / 1e6


def _round6_col(c):
    """JVM twin of ``_round6_py`` — the same three IEEE ops."""
    return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)


def sessionize_window(
    pos: DataFrame, airport_radius_km: float = C.SFO_MAX_DISTANCE_KM
) -> DataFrame:
    """Window-function sessionization over (taxi, t, lat, lon, status, event_date).

    Emits ALL reconstructed trips (one row per maximal gap-bounded run of M
    positions) with distance/airport/revenue columns; callers filter. The
    whole computation is one shuffle: both window expressions share the
    (taxi | t, event_id) spec, so Catalyst collapses them into a single
    Window operator over one sort.
    """
    # Fixed-point aggregation: per-segment distances are quantized to
    # nano-km BIGINTs and summed as integers, so the aggregate is exact and
    # independent of Spark's partial-merge order. IEEE double sums depend on
    # addend order (shuffle-fetch arrival order varies run to run); when the
    # unrounded sum lands within an ulp of a 1e-6 half-boundary, round(.., 6)
    # flips between runs/engines. Integer sums cannot. Quantization error is
    # <= 5e-10 km/segment — invisible at the 6-dp output precision, and the
    # DuckDB oracle quantizes identically so the engines agree bit-for-bit.
    # Reference semantics preserved: the fee is computed from the
    # (quantized) unrounded sum, not the 6-dp distance
    # (AirportTripsRevenue.java:347).
    w = Window.partitionBy("taxi").orderBy("t", "event_id")
    lagged = pos.select(
        "*",
        F.lag("status").over(w).alias("prev_status"),
        F.lag("t").over(w).alias("prev_t"),
        F.lag("lat").over(w).alias("prev_lat"),
        F.lag("lon").over(w).alias("prev_lon"),
    )
    is_m = F.col("status") == "M"
    cont = (
        (F.col("prev_status") == "M")
        & ((F.col("t") - F.col("prev_t")) <= F.lit(C.MAX_SEGMENT_DELTA_TIME_S))
    )
    lagged = lagged.select(
        "*",
        (is_m & ~F.coalesce(cont, F.lit(False))).cast("int").alias("is_start"),
        F.when(
            is_m & cont,
            F.round(
                spherical_earth_distance("prev_lat", "prev_lon", "lat", "lon")
                * F.lit(1e9)
            ).cast("long"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("seg_nano"),
        is_airport_position("lat", "lon", C.SFO_LAT, C.SFO_LONG, airport_radius_km)
        .cast("int")
        .alias("at_airport"),
    )
    m = lagged.select(
        "*", F.sum("is_start").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("session_id")
    ).filter(is_m)
    trips = m.groupBy("taxi", "session_id").agg(
        F.min("t").alias("start_t"),
        F.min_by("lat", "t").alias("start_lat"),
        F.min_by("lon", "t").alias("start_lon"),
        F.max("t").alias("stop_t"),
        F.max_by("lat", "t").alias("stop_lat"),
        F.max_by("lon", "t").alias("stop_lon"),
        F.count(F.lit(1)).alias("n_points"),
        F.sum("seg_nano").alias("dist_nano"),
        (F.max("at_airport") == 1).alias("is_airport"),
        F.min_by("event_date", "t").alias("trip_date"),
    )
    # 6-dp HALF_UP in pure integer arithmetic ((x + 500) div 1000 on
    # non-negative nano units), then one exact long->double division: both
    # engines produce the identical double. Fee from the unrounded
    # (nano-quantized) distance per reference semantics.
    return trips.select(
        "taxi",
        "session_id",
        "start_t",
        "start_lat",
        "start_lon",
        "stop_t",
        "stop_lat",
        "stop_lon",
        "n_points",
        F.expr("((dist_nano + 500) div 1000) / 1e6").alias("dist_km"),
        "is_airport",
        F.expr(
            f"(({_START_FEE_NANO} + cast(round({C.KM_FEE!r} * dist_nano) as bigint)"
            " + 500) div 1000) / 1e6"
        ).alias("revenue"),
        F.date_format("trip_date", "yyyy-MM-dd").alias("trip_date"),
    )


def trips_window_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Demo radius (2 km) instead of the reference 1 km so airport trips are a
    # meaningful fraction of the derived stream; the operator itself defaults
    # to the reference constants.
    return sessionize_window(
        gps.positions(spark, sf_dir), airport_radius_km=gps.DEMO_AIRPORT_RADIUS_KM
    )


def airport_trips_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O15+O17: emitted airport trips (dist >= 0.1 km, touched the radius)."""
    trips = trips_window_query(spark, sf_dir)
    return trips.filter(
        (F.col("dist_km") >= F.lit(C.MIN_TRIP_DISTANCE_KM)) & F.col("is_airport")
    )


# --- DuckDB oracles -------------------------------------------------------

_SEG_KM = gps.distance_sql("prev_lat", "prev_lon", "lat", "lon")
_AIRPORT_KM = gps.distance_sql("lat", "lon", "37.62131", "-122.37896")

TRIPS_WINDOW_ORACLE = f"""
WITH pos AS ({gps.POSITIONS_SQL}),
lagged AS (
    SELECT *,
        lag(status) OVER w AS prev_status,
        lag(t)      OVER w AS prev_t,
        lag(lat)    OVER w AS prev_lat,
        lag(lon)    OVER w AS prev_lon
    FROM pos
    WINDOW w AS (PARTITION BY taxi ORDER BY t, event_id)
),
flagged AS (
    SELECT *,
        CASE WHEN status = 'M' AND NOT coalesce(
                 prev_status = 'M' AND (t - prev_t) <= 210.0, FALSE)
             THEN 1 ELSE 0 END AS is_start,
        -- Fixed-point: quantize each segment to nano-km BIGINTs so the sum
        -- is exact integer arithmetic, bit-identical to the Spark plan
        -- regardless of addend order (see sessionize_window).
        CASE WHEN status = 'M' AND prev_status = 'M' AND (t - prev_t) <= 210.0
             THEN CAST(round(({_SEG_KM}) * 1e9) AS BIGINT) ELSE 0 END AS seg_nano,
        CASE WHEN {_AIRPORT_KM} <= 2.0 THEN 1 ELSE 0 END AS at_airport
    FROM lagged
),
m AS (
    SELECT *,
        -- DuckDB promotes integer window-sum to HUGEINT, which pandas turns
        -- into float64 (161.0 vs Spark's int64 161) — cast to keep int64.
        CAST(sum(is_start) OVER (PARTITION BY taxi ORDER BY t, event_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
    FROM flagged WHERE status = 'M'
),
grouped AS (
    SELECT
        taxi,
        session_id,
        min(t)              AS start_t,
        min_by(lat, t)      AS start_lat,
        min_by(lon, t)      AS start_lon,
        max(t)              AS stop_t,
        max_by(lat, t)      AS stop_lat,
        max_by(lon, t)      AS stop_lon,
        count(*)            AS n_points,
        CAST(sum(seg_nano) AS BIGINT)            AS dist_nano,
        max(at_airport) = 1                      AS is_airport,
        strftime(min_by(event_date, t), '%Y-%m-%d') AS trip_date
    FROM m
    GROUP BY taxi, session_id
)
SELECT
    taxi, session_id, start_t, start_lat, start_lon,
    stop_t, stop_lat, stop_lon, n_points,
    ((dist_nano + 500) // 1000) / 1e6 AS dist_km,
    is_airport,
    ((3500000000 + CAST(round(1.71 * dist_nano) AS BIGINT) + 500) // 1000) / 1e6
        AS revenue,
    trip_date
FROM grouped
"""

AIRPORT_TRIPS_ORACLE = f"""
WITH t AS ({TRIPS_WINDOW_ORACLE})
SELECT * FROM t WHERE dist_km >= 0.1 AND is_airport
"""


# --- parity path: exact state-machine replay ------------------------------

# The reducer carrier (``AirportTripsRevenue.java:279-285``): the previous
# fix plus the open-trip accumulator, ``has_trip`` marking whether one is
# open. It is also the streaming state-store row, hence the DDL.
STATE_SCHEMA = (
    "prev_status string, prev_lat double, prev_lon double, prev_t double, "
    "has_trip boolean, start_t double, start_lat double, start_lon double, "
    "airport boolean, dist double, trip_date string"
)
Carrier = namedtuple("Carrier", [f.split()[0] for f in STATE_SCHEMA.split(", ")])


def fresh_carrier() -> Carrier:
    """Initial reducer-carrier state: before any input, the machine behaves
    as if the previous fix was an E at the epoch (reference field defaults,
    ``AirportTripsRevenue.java:279-285``), with no open trip."""
    return Carrier("E", 0.0, 0.0, 0.0, False, 0.0, 0.0, 0.0, False, 0.0, "")


# One emitted trip: taxi, start/stop fix, 6-dp distance and revenue, date.
PARITY_SCHEMA = (
    "taxi bigint, start_t double, start_lat double, start_lon double, "
    "stop_t double, stop_lat double, stop_lon double, dist_km double, "
    "revenue double, trip_date string"
)
PARITY_COLUMNS = [f.split()[0] for f in PARITY_SCHEMA.split(", ")]


def replay_core(
    taxi: int,
    rows,
    carrier: tuple,
    gap_s: float = C.MAX_SEGMENT_DELTA_TIME_S,
    max_speed_kmh: float = C.MAX_SEGMENT_SPEED_KMH,
    min_trip_km: float = C.MIN_TRIP_DISTANCE_KM,
    airport_lat: float = C.SFO_LAT,
    airport_lon: float = C.SFO_LONG,
    airport_radius_km: float = C.SFO_MAX_DISTANCE_KM,
) -> tuple[list[tuple], Carrier]:
    """Run the reference state machine over ``rows`` (iterable of
    (t, lat, lon, status, event_date), already time-ordered) starting from
    ``carrier`` (any tuple in ``STATE_SCHEMA`` order); return (emitted
    airport trips, final carrier).

    Faithful transcription of ``AirportTripsRevenue.java:275-407`` with
    per-taxi state isolation (module docstring documents the divergence).
    The open trip's date is carried as ``str(event_date)``.
    """
    d2r = C.DEGREES_TO_RADIANS

    def dist(lat1, lon1, lat2, lon2):
        dlat = (lat1 - lat2) * d2r
        dlon = (lon1 - lon2) * d2r
        mean = (lat1 + lat2) * d2r / 2
        return C.EARTH_RADIUS_KM * math.sqrt(dlat**2 + (math.cos(mean) * dlon) ** 2)

    def near_airport(lat, lon):
        return dist(lat, lon, airport_lat, airport_lon) <= airport_radius_km

    out: list[tuple] = []
    (prev_status, prev_lat, prev_lon, prev_t,
     has_trip, start_t, start_lat, start_lon, airport, km, date) = carrier

    def close_trip(stop_t, stop_lat, stop_lon):
        if has_trip and km >= min_trip_km and airport:
            out.append((
                taxi, start_t, start_lat, start_lon, stop_t, stop_lat, stop_lon,
                _round6_py(km), _round6_py(C.START_FEE + C.KM_FEE * km), date[:10],
            ))

    for t, lat, lon, status, event_date in rows:
        delta = t - prev_t
        if prev_status == "E" and status == "M":
            has_trip, start_t, start_lat, start_lon = True, t, lat, lon
            airport, km, date = near_airport(lat, lon), 0.0, str(event_date)
        elif prev_status == "M" and status == "M":
            if delta <= gap_s:
                seg = dist(prev_lat, prev_lon, lat, lon)
                speed = seg / (delta / 3600.0) if delta > 0 else float("inf")
                if speed > max_speed_kmh:
                    # Order-dependent drop: the point is skipped and the
                    # previous point stays "previous" (reference `return`
                    # before the previous-position update, :331-334).
                    continue
                airport = airport or near_airport(lat, lon)
                km += seg
            else:
                close_trip(prev_t, prev_lat, prev_lon)
                has_trip, start_t, start_lat, start_lon = True, t, lat, lon
                airport, km, date = near_airport(lat, lon), 0.0, str(event_date)
        elif prev_status == "M" and status == "E":
            close_trip(prev_t, prev_lat, prev_lon)
            has_trip = False
        prev_status, prev_lat, prev_lon, prev_t = status, lat, lon, t

    trip = (
        (True, start_t, start_lat, start_lon, airport, km, date)
        if has_trip
        else fresh_carrier()[4:]
    )
    return out, Carrier(prev_status, prev_lat, prev_lon, prev_t, *trip)


def replay_frame(taxi, pdf: pd.DataFrame, carrier: tuple, **kwargs):
    """``replay_core`` over one taxi's positions frame, sorted by
    (t, event_id) first; returns (emitted trips, final carrier)."""
    rows = pdf.sort_values(["t", "event_id"])[
        ["t", "lat", "lon", "status", "event_date"]
    ].itertuples(index=False, name=None)
    return replay_core(int(taxi), rows, carrier, **kwargs)


def run_per_taxi(pos: DataFrame, fn) -> DataFrame:
    """Apply ``fn(taxi, pdf) -> list of trip tuples`` to every taxi's
    positions, Arrow-batched per partition; output has ``PARITY_SCHEMA``.

    Partition-level mapInPandas over hash-partitioned, taxi-sorted data:
    one Python invocation per *partition* rather than per taxi (a per-group
    applyInPandas pays per-group Python/Arrow overhead — with millions of
    taxis that dominates). Taxis never span partitions (hash partitioning);
    they can span Arrow batches within one, so the runner carries the
    trailing taxi over to the next batch. Per-taxi state isolation is the
    same locality the reference's custom partitioner enforced
    (``AirportTripsRevenue.java:236-252``).
    """

    def trips(pdf):
        return pd.DataFrame(
            [r for taxi, g in pdf.groupby("taxi", sort=False) for r in fn(taxi, g)],
            columns=PARITY_COLUMNS,
        )

    def run(batches):
        tail = None
        for pdf in batches:
            if tail is not None:
                pdf = pd.concat([tail, pdf], ignore_index=True)
            if pdf.empty:
                continue
            done = pdf["taxi"] != pdf["taxi"].iloc[-1]
            tail = pdf[~done]
            yield trips(pdf[done])
        if tail is not None:
            yield trips(tail)

    # Explicit partition count: a bare repartition("taxi") lets AQE coalesce
    # the small shuffle output down to 1-2 partitions, which would serialize
    # the (CPU-bound, Python-side) replay onto 1-2 cores. A user-specified
    # count is exempt from AQE coalescing, keeping the replay parallel.
    n_parts = pos.sparkSession.sparkContext.defaultParallelism
    ordered = pos.repartition(n_parts, "taxi").sortWithinPartitions(
        "taxi", "t", "event_id"
    )
    return ordered.mapInPandas(run, schema=PARITY_SCHEMA)


def sessionize_parity(pos: DataFrame, **kwargs) -> DataFrame:
    """Exact-reference-semantics sessionization: each taxi replayed from a
    fresh carrier through ``run_per_taxi``. Emits only airport trips with
    dist >= MIN_TRIP_DISTANCE_KM; a trip still open at end of input is
    never emitted (reference behavior). ``kwargs`` override the reference
    thresholds (gap_s, max_speed_kmh, min_trip_km, airport_*).
    """
    return run_per_taxi(
        pos, lambda taxi, pdf: replay_frame(taxi, pdf, fresh_carrier(), **kwargs)[0]
    )


# --- JVM-side parity: the state machine as a per-taxi aggregate fold ------


def sessionize_parity_sql(
    pos: DataFrame,
    gap_s: float = C.MAX_SEGMENT_DELTA_TIME_S,
    max_speed_kmh: float = C.MAX_SEGMENT_SPEED_KMH,
    min_trip_km: float = C.MIN_TRIP_DISTANCE_KM,
    airport_lat: float = C.SFO_LAT,
    airport_lon: float = C.SFO_LONG,
    airport_radius_km: float = C.SFO_MAX_DISTANCE_KM,
) -> DataFrame:
    """Exact-reference-semantics sessionization, entirely JVM-side.

    The same state machine as ``replay_core`` (``AirportTripsRevenue.java:
    275-407``, per-taxi state isolation as documented in the module
    docstring), expressed as a left-to-right ``F.aggregate`` fold over each
    taxi's time-sorted position array: groupBy(taxi) -> sort_array(collect_
    list(struct)) -> fold with a (prev fix, open trip, emitted trips)
    accumulator -> explode. One shuffle on taxi, no Python workers, no
    Arrow transfer — the fold is evaluated by the JVM expression
    interpreter. Sequential fold order makes the order-dependent speed-drop
    (``:317-335``) and the left-to-right distance accumulation exact, so
    output is bit-identical to ``replay_core`` (cross-checked per fixture
    arm in tests and against the committed sf0.01 golden file).

    Memory bounds like the per-group Pandas path: one taxi's positions are
    materialized per fold — fine whenever a single key's history fits an
    executor, the same contract applyInPandas has. The 6-dp emit edge uses
    ``_round6_col`` / ``_round6_py`` (floor(x*1e6+0.5)/1e6): three IEEE ops
    evaluated identically by the JVM and CPython, so the two arms agree by
    construction, not empirically.
    """
    per_taxi = pos.groupBy("taxi").agg(
        F.sort_array(
            F.collect_list(
                F.struct("t", "event_id", "lat", "lon", "status", "event_date")
            )
        ).alias("pts")
    )
    # The emitted-trip struct: PARITY_SCHEMA without taxi, as type DDL.
    trip_fields = ",".join(f.replace(" ", ":") for f in PARITY_SCHEMA.split(", ")[1:])
    init = F.struct(
        F.lit("E").alias("prev_status"),
        F.lit(0.0).alias("prev_lat"),
        F.lit(0.0).alias("prev_lon"),
        F.lit(0.0).alias("prev_t"),
        F.lit(0.0).alias("start_t"),
        F.lit(0.0).alias("start_lat"),
        F.lit(0.0).alias("start_lon"),
        F.lit(False).alias("airport"),
        F.lit(0.0).alias("dist"),
        F.lit(None).cast("date").alias("date"),
        F.expr(f"cast(array() as array<struct<{trip_fields}>>)").alias("out"),
    )

    def step(acc, x):
        prev_m = acc["prev_status"] == F.lit("M")
        is_m = x["status"] == F.lit("M")
        delta = x["t"] - acc["prev_t"]
        seg = spherical_earth_distance(
            acc["prev_lat"], acc["prev_lon"], x["lat"], x["lon"]
        )
        near = is_airport_position(
            x["lat"], x["lon"], airport_lat, airport_lon, airport_radius_km
        )
        cont = prev_m & is_m & (delta <= F.lit(gap_s))
        # Same arithmetic shape as replay_core: speed = seg/(delta/3600),
        # infinite (-> drop) when delta <= 0.
        drop = cont & (
            (delta <= F.lit(0.0))
            | ((seg / (delta / F.lit(3600.0))) > F.lit(max_speed_kmh))
        )
        closing = prev_m & (~is_m | (delta > F.lit(gap_s)))
        opening = is_m & (~prev_m | (delta > F.lit(gap_s)))
        emitted = F.struct(
            acc["start_t"].alias("start_t"),
            acc["start_lat"].alias("start_lat"),
            acc["start_lon"].alias("start_lon"),
            acc["prev_t"].alias("stop_t"),
            acc["prev_lat"].alias("stop_lat"),
            acc["prev_lon"].alias("stop_lon"),
            _round6_col(acc["dist"]).alias("dist_km"),
            _round6_col(
                F.lit(C.START_FEE) + F.lit(C.KM_FEE) * acc["dist"]
            ).alias("revenue"),
            acc["date"].cast("string").alias("trip_date"),
        )
        qual = closing & (acc["dist"] >= F.lit(min_trip_km)) & acc["airport"]
        new_out = F.when(qual, F.concat(acc["out"], F.array(emitted))).otherwise(
            acc["out"]
        )
        new_acc = F.struct(
            x["status"].alias("prev_status"),
            x["lat"].alias("prev_lat"),
            x["lon"].alias("prev_lon"),
            x["t"].alias("prev_t"),
            F.when(opening, x["t"]).otherwise(acc["start_t"]).alias("start_t"),
            F.when(opening, x["lat"]).otherwise(acc["start_lat"]).alias("start_lat"),
            F.when(opening, x["lon"]).otherwise(acc["start_lon"]).alias("start_lon"),
            F.when(opening, near)
            .when(cont, acc["airport"] | near)
            .otherwise(acc["airport"])
            .alias("airport"),
            F.when(opening, F.lit(0.0))
            .when(cont, acc["dist"] + seg)
            .otherwise(acc["dist"])
            .alias("dist"),
            F.when(opening, x["event_date"]).otherwise(acc["date"]).alias("date"),
            new_out.alias("out"),
        )
        # A dropped point leaves the whole accumulator untouched — the
        # previous fix stays "previous" (reference `return` before the
        # previous-position update, :331-334).
        return F.when(drop, acc).otherwise(new_acc)

    folded = per_taxi.select("taxi", F.aggregate("pts", init, step).alias("acc"))
    return folded.select("taxi", F.explode("acc.out").alias("tr")).select(
        "taxi", "tr.*"
    )


def airport_trips_parity_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionize_parity_sql(
        gps.positions(spark, sf_dir), airport_radius_km=gps.DEMO_AIRPORT_RADIUS_KM
    )
