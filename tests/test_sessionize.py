"""Sessionization unit fixtures (SURVEY.md §5.2).

Tiny hand-written position sequences covering each transition arm of the
reference state machine (``src/AirportTripsRevenue.java:301-397``), with
hand-computed expected trips, plus the window-vs-parity cross-check on data
without speed violations.
"""

from __future__ import annotations

import datetime
import math

import pytest
from pyspark.sql import functions as F

from mapreduce_hadoop_spark import constants as C
from mapreduce_hadoop_spark.operators.sessionize import (
    sessionize_parity,
    sessionize_parity_sql,
    sessionize_window,
)

D = datetime.date(2024, 1, 1)

# Positions near SFO (37.62131, -122.37896). 0.01 deg lat ≈ 1.112 km.
SFO = (C.SFO_LAT, C.SFO_LONG)
NEAR = (37.6220, -122.3790)  # ~75 m from SFO center
FAR = (37.70, -122.25)  # ~14 km away


def ref_dist(p, q):
    d2r = math.pi / 180
    dlat = (p[0] - q[0]) * d2r
    dlon = (p[1] - q[1]) * d2r
    mean = (p[0] + q[0]) * d2r / 2
    return C.EARTH_RADIUS_KM * math.sqrt(dlat**2 + (math.cos(mean) * dlon) ** 2)


def mkpos(spark, rows):
    """rows: (taxi, t, lat, lon, status); event_id = index."""
    data = [
        (int(taxi), float(t), float(lat), float(lon), status, i, D)
        for i, (taxi, t, lat, lon, status) in enumerate(rows)
    ]
    return spark.createDataFrame(
        data, "taxi long, t double, lat double, lon double, status string, event_id long, event_date date"
    )


def parity_rows(spark, rows, **kw):
    """Run BOTH parity implementations (Pandas replay + JVM aggregate fold)
    and require bit-identical output before returning it — every transition
    arm below exercises the twins against each other."""
    pos = mkpos(spark, rows)
    key = lambda r: (r["taxi"], r["start_t"])
    py = sorted(sessionize_parity(pos, **kw).collect(), key=key)
    jvm = sorted(sessionize_parity_sql(pos, **kw).collect(), key=key)
    assert [tuple(r) for r in jvm] == [tuple(r) for r in py]
    return py


# --- transition arms -------------------------------------------------------


def test_e_to_m_then_m_to_e_emits_airport_trip(spark):
    # E->M opens at the M point (:301-315); M->E closes at the *previous*
    # point (:374-397). Walk SFO -> 1km north -> 2km north, then E.
    a = (37.6213, -122.3790)
    b = (37.6303, -122.3790)  # ~1.0 km north
    c = (37.6393, -122.3790)  # ~2.0 km north
    rows = [
        (1, 0.0, *a, "E"),
        (1, 100.0, *a, "M"),
        (1, 200.0, *b, "M"),
        (1, 300.0, *c, "M"),
        (1, 400.0, *c, "E"),
    ]
    out = parity_rows(spark, rows)
    assert len(out) == 1
    trip = out[0]
    assert trip["start_t"] == 100.0
    assert trip["stop_t"] == 300.0  # previous point, not the E point's time
    expected = ref_dist(a, b) + ref_dist(b, c)
    assert trip["dist_km"] == pytest.approx(expected, abs=1e-6)
    assert trip["revenue"] == pytest.approx(3.5 + 1.71 * trip["dist_km"], abs=1e-6)
    assert trip["trip_date"] == "2024-01-01"


def test_trip_without_airport_touch_suppressed(spark):
    far1, far2 = (37.70, -122.25), (37.71, -122.25)
    rows = [
        (1, 0.0, *far1, "E"),
        (1, 100.0, *far1, "M"),
        (1, 200.0, *far2, "M"),
        (1, 300.0, *far2, "E"),
    ]
    assert parity_rows(spark, rows) == []


def test_below_min_distance_suppressed(spark):
    # Two M points 50 m apart at the airport: dist < 0.1 km (:342,378).
    a = (37.62131, -122.37896)
    b = (37.62176, -122.37896)  # ~50 m
    rows = [(1, 0.0, *a, "E"), (1, 100.0, *a, "M"), (1, 200.0, *b, "M"), (1, 300.0, *b, "E")]
    assert parity_rows(spark, rows) == []


def test_gap_split_closes_and_reopens(spark):
    # M->M with gap > 210 s closes the current trip at the previous point and
    # opens a new one (:337-372). Both halves walk 1 km at the airport.
    a = (37.6213, -122.3790)
    b = (37.6303, -122.3790)
    rows = [
        (1, 0.0, *a, "E"),
        (1, 100.0, *a, "M"),
        (1, 200.0, *b, "M"),
        (1, 500.0, *a, "M"),  # gap 300 s > 210 s
        (1, 600.0, *b, "M"),
        (1, 700.0, *b, "E"),
    ]
    out = parity_rows(spark, rows)
    assert len(out) == 2
    assert (out[0]["start_t"], out[0]["stop_t"]) == (100.0, 200.0)
    assert (out[1]["start_t"], out[1]["stop_t"]) == (500.0, 600.0)


def test_speed_drop_is_order_dependent(spark):
    # A point implying > 180 km/h is dropped and the previous point stays
    # "previous" (:317-335): the next distance is measured from the
    # pre-drop point.
    a = (37.6213, -122.3790)
    glitch = (37.80, -122.3790)  # ~20 km in 100 s -> 715 km/h
    b = (37.6303, -122.3790)
    rows = [
        (1, 0.0, *a, "E"),
        (1, 100.0, *a, "M"),
        (1, 200.0, *glitch, "M"),  # dropped
        (1, 300.0, *b, "M"),  # measured from a, not glitch
        (1, 400.0, *b, "E"),
    ]
    out = parity_rows(spark, rows)
    assert len(out) == 1
    assert out[0]["dist_km"] == pytest.approx(ref_dist(a, b), abs=1e-6)
    # The dropped point must not extend the trip endpoint either.
    assert out[0]["stop_t"] == 300.0


def test_taxi_change_isolated(spark):
    # Engine divergence (documented): state never crosses taxis. Taxi 2's
    # first M opens its own trip; taxi 1's open trip at end-of-input is
    # never emitted (reference behavior).
    a = (37.6213, -122.3790)
    b = (37.6303, -122.3790)
    rows = [
        (1, 100.0, *a, "M"),  # first row of taxi 1: E->M (initial state E)
        (1, 200.0, *b, "M"),
        # taxi 1 ends with an open trip -> not emitted
        (2, 150.0, *a, "M"),
        (2, 250.0, *b, "M"),
        (2, 350.0, *b, "E"),
    ]
    out = parity_rows(spark, rows)
    assert len(out) == 1
    assert out[0]["taxi"] == 2


def test_open_trip_at_end_never_emitted(spark):
    a = (37.6213, -122.3790)
    b = (37.6303, -122.3790)
    rows = [(1, 0.0, *a, "E"), (1, 100.0, *a, "M"), (1, 200.0, *b, "M")]
    assert parity_rows(spark, rows) == []


def test_e_e_noise_between_trips(spark):
    # E points between trips don't create sessions.
    a = (37.6213, -122.3790)
    b = (37.6303, -122.3790)
    rows = [
        (1, 0.0, *a, "E"),
        (1, 50.0, *a, "E"),
        (1, 100.0, *a, "M"),
        (1, 200.0, *b, "M"),
        (1, 300.0, *b, "E"),
        (1, 350.0, *b, "E"),
    ]
    out = parity_rows(spark, rows)
    assert len(out) == 1


# --- window formulation ----------------------------------------------------


def test_window_matches_parity_on_clean_data(spark):
    # Property (SURVEY §5.2): identical output when no speed violations
    # occur. Build a 2-taxi stream with varied gaps, all speeds < 180 km/h.
    a = (37.6213, -122.3790)
    step = 0.004  # ~0.44 km per step; 100 s between fixes -> ~16 km/h
    rows = []
    for taxi in (1, 2):
        t = 0.0
        lat = a[0]
        for i in range(30):
            status = "M" if i % 5 != 4 else "E"
            rows.append((taxi, t, lat, a[1], status))
            t += 100.0 if i % 7 != 6 else 400.0  # occasional gap split
            lat += step
    win = sessionize_window(mkpos(spark, rows)).filter(
        (F.col("dist_km") >= C.MIN_TRIP_DISTANCE_KM) & F.col("is_airport")
    )
    par = parity_rows(spark, rows)
    wrows = sorted(win.collect(), key=lambda r: (r["taxi"], r["start_t"]))
    assert len(wrows) == len(par)
    for w, p in zip(wrows, par):
        assert w["taxi"] == p["taxi"]
        assert w["start_t"] == p["start_t"]
        assert w["stop_t"] == p["stop_t"]
        assert w["dist_km"] == pytest.approx(p["dist_km"], abs=1e-9)
        assert w["revenue"] == pytest.approx(p["revenue"], abs=1e-9)


def test_window_session_count_structure(spark):
    # 3 M-runs split by E and by gap -> 3 sessions regardless of airport.
    a = (37.6213, -122.3790)
    rows = [
        (1, 0.0, *a, "M"),
        (1, 100.0, 37.6253, a[1], "M"),
        (1, 200.0, *a, "E"),
        (1, 300.0, *a, "M"),
        (1, 700.0, *a, "M"),  # gap 400 > 210 -> new session
    ]
    trips = sessionize_window(mkpos(spark, rows))
    assert trips.count() == 3


# --- golden fixture + independent replay (sf0.01) ---------------------------


def test_parity_golden_fixture_sf001():
    """Pin the full parity output at sf0.01 against a committed fixture, and
    cross-check the distributed mapInPandas plumbing (hash partitioning,
    batch carry-over, within-partition sort) against a single-threaded
    driver-side replay of the same positions.
    """
    import json
    import os

    from mapreduce_hadoop_spark.operators import gps, sessionize
    from mapreduce_hadoop_spark.session import get_spark

    sf01 = "/root/testdata/sf0.01"
    spark = get_spark("tests", master="local[4]", shuffle_partitions=4)
    fixture_path = os.path.join(
        os.path.dirname(__file__), "fixtures", "airport_trips_parity_sf0.01.json"
    )
    with open(fixture_path) as f:
        golden = json.load(f)

    out = sessionize.airport_trips_parity_query(spark, sf01)
    got = sorted(([*r] for r in out.collect()), key=lambda r: (r[0], r[1]))
    assert out.columns == golden["columns"]
    assert got == golden["rows"]

    # Independent single-threaded replay: no Spark in the loop beyond
    # fetching the input positions.
    pos = gps.positions(spark, sf01).collect()
    by_taxi = {}
    for r in sorted(pos, key=lambda r: (r["taxi"], r["t"], r["event_id"])):
        by_taxi.setdefault(r["taxi"], []).append(
            (r["t"], r["lat"], r["lon"], r["status"], r["event_date"])
        )
    expected = []
    for taxi, rows in by_taxi.items():
        trips, _ = sessionize.replay_core(
            taxi,
            rows,
            sessionize.fresh_carrier(),
            airport_radius_km=gps.DEMO_AIRPORT_RADIUS_KM,
        )
        expected.extend([*t] for t in trips)
    expected.sort(key=lambda r: (r[0], r[1]))
    assert got == expected


def test_round6_arms_bit_identical():
    """The CPython and JVM 6-dp rounding helpers must agree on EVERY
    double — including values within an ulp of a 1e-6 half-boundary,
    where round()/F.bround diverge (the reason they were replaced)."""
    import numpy as np
    from pyspark.sql import functions as F

    from mapreduce_hadoop_spark.operators.sessionize import _round6_col, _round6_py
    from mapreduce_hadoop_spark.session import get_spark

    spark = get_spark("tests", master="local[4]", shuffle_partitions=4)
    rng = np.random.default_rng(7)
    vals = list(rng.uniform(0, 3000, 5000))
    # Adversarial: exact 6-dp values, half-boundaries, and off-by-one-ulp
    # neighbors of half-boundaries.
    for k in range(200):
        base = k * 1e-6 + 5e-7
        vals += [base, np.nextafter(base, 0.0), np.nextafter(base, 1.0), k * 1e-6]
    vals = [float(v) for v in vals]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = [r["y"] for r in df.select(_round6_col(F.col("x")).alias("y")).collect()]
    want = [_round6_py(v) for v in vals]
    assert got == want  # exact ==, no tolerance: bit-identity is the claim


def test_runner_carries_taxis_across_arrow_batches(spark, sf_dir):
    """``run_per_taxi`` carries a partition's trailing taxi over to the next
    Arrow batch. That branch fires only when a partition holds more than
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows (10,000 by
    default), which test data never reaches; 7-row batches force it, so
    every taxi spans several batches. Output must not move."""
    from mapreduce_hadoop_spark.operators import gps
    from mapreduce_hadoop_spark.streaming.trips import airport_trips_timeout_batch

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    kw = {"airport_radius_km": gps.DEMO_AIRPORT_RADIUS_KM}
    pos = gps.positions(spark, sf_dir)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    parity = rows(sessionize_parity(pos, **kw))
    timeout = rows(airport_trips_timeout_batch(spark, sf_dir))
    old = spark.conf.get(conf)
    spark.conf.set(conf, "7")
    try:
        assert rows(sessionize_parity(pos, **kw)) == parity
        assert rows(airport_trips_timeout_batch(spark, sf_dir)) == timeout
    finally:
        spark.conf.set(conf, old)
    assert len(parity) > 0 and len(timeout) > 0
    assert rows(sessionize_parity_sql(pos, **kw)) == parity
