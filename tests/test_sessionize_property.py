"""Property-based cross-check of the reference state machine.

On speed-violation-free inputs the order-dependent parity replay
(replay_core) and the declarative window formulation compute the same
trips by construction (SURVEY.md §5.2). This pins that equivalence over
randomized inputs with an *independent* declarative implementation: split
the M-run into gap-bounded sessions, sum segment distances — no carried
state, no transition arms.

A second property pins the carrier: cutting a sequence anywhere and
replaying the pieces with the carried carrier emits the same trips as one
pass, and every carrier is a ``STATE_SCHEMA`` row.

Pure Python on purpose: hypothesis drives hundreds of cases; the Spark
twins of both formulations are covered by fixture tests and the oracle.
"""

from __future__ import annotations

import math

from hypothesis import given, settings
from hypothesis import strategies as st

from mapreduce_hadoop_spark import constants as C
from mapreduce_hadoop_spark.operators.sessionize import (
    STATE_SCHEMA,
    fresh_carrier,
    replay_core,
)

GAP = C.MAX_SEGMENT_DELTA_TIME_S
AIRPORT = (C.SFO_LAT, C.SFO_LONG)


def _dist(lat1, lon1, lat2, lon2):
    d2r = C.DEGREES_TO_RADIANS
    dlat = (lat1 - lat2) * d2r
    dlon = (lon1 - lon2) * d2r
    mean = (lat1 + lat2) * d2r / 2
    return C.EARTH_RADIUS_KM * math.sqrt(dlat**2 + (math.cos(mean) * dlon) ** 2)


def declarative_trips(rows):
    """Window-semantics reference: a trip is a maximal run of M rows not
    broken by a gap > GAP or an interleaved E; emitted if its summed segment
    distance >= MIN and any point is in the airport radius. The trip closes
    at its last M point; a trailing run at end-of-input is NOT emitted
    unless an E row follows it or a gap splits after it."""
    out = []
    run = []
    closed_runs = []
    prev = None  # (t, status)
    for r in rows:
        t, lat, lon, status, _ = r
        if status == "M":
            if run and t - run[-1][0] > GAP:
                closed_runs.append(run)
                run = [(t, lat, lon)]
            elif prev is not None and prev[1] == "M":
                run.append((t, lat, lon))
            else:
                if run:
                    closed_runs.append(run)
                run = [(t, lat, lon)]
        else:
            if run:
                closed_runs.append(run)
                run = []
        prev = (t, status)
    # Trailing open run: dropped (reference behavior).
    for run in closed_runs:
        d = sum(
            _dist(a[1], a[2], b[1], b[2]) for a, b in zip(run, run[1:])
        )
        airport = any(
            _dist(lat, lon, *AIRPORT) <= C.SFO_MAX_DISTANCE_KM for _, lat, lon in run
        )
        if d >= C.MIN_TRIP_DISTANCE_KM and airport:
            out.append((run[0][0], run[-1][0], round(d, 6)))
    return out


@st.composite
def position_sequences(draw):
    """Slow-moving sequences (speeds far below the 180 km/h drop threshold)
    near SFO so both airport and non-airport trips occur."""
    n = draw(st.integers(min_value=0, max_value=40))
    t = 0.0
    lat, lon = C.SFO_LAT, C.SFO_LONG
    rows = []
    for _ in range(n):
        # dt in [30, 400]: crosses the 210 s gap boundary regularly.
        t += draw(st.floats(min_value=30.0, max_value=400.0))
        # Steps <= ~0.1 km per 30 s => <= ~12 km/h: never a speed violation.
        lat += draw(st.floats(min_value=-8e-4, max_value=8e-4))
        lon += draw(st.floats(min_value=-8e-4, max_value=8e-4))
        status = draw(st.sampled_from(["M", "M", "M", "E"]))
        rows.append((t, lat, lon, status, "2024-01-01"))
    return rows


@settings(max_examples=300, deadline=None)
@given(position_sequences())
def test_replay_equals_declarative_without_speed_violations(rows):
    got, _ = replay_core(1, iter(rows), fresh_carrier())
    want = declarative_trips(rows)
    assert [(g[1], g[4], g[7]) for g in got] == want


@st.composite
def rough_sequences(draw):
    """Unrestricted sequences: speed violations, zero and negative time
    deltas, gaps over 210 s, E/M interleavings, and cut points."""
    n = draw(st.integers(min_value=0, max_value=40))
    t = 0.0
    lat, lon = C.SFO_LAT, C.SFO_LONG
    rows = []
    for _ in range(n):
        t += draw(st.sampled_from([0.0, -50.0, 10.0, 100.0, 209.0, 210.0, 211.0, 900.0]))
        # Up to ~1.1 km a step: > 180 km/h at short deltas.
        lat += draw(st.floats(min_value=-0.01, max_value=0.01))
        lon += draw(st.floats(min_value=-0.01, max_value=0.01))
        status = draw(st.sampled_from(["M", "M", "E"]))
        rows.append((t, lat, lon, status, f"2024-01-{1 + int(t // 3600) % 28:02d}"))
    cuts = draw(st.lists(st.integers(min_value=0, max_value=n), max_size=4))
    return rows, sorted(cuts)


_PY_TYPES = {"string": str, "double": float, "boolean": bool}
_STATE_TYPES = [_PY_TYPES[f.split()[1]] for f in STATE_SCHEMA.split(", ")]


@settings(max_examples=300, deadline=None)
@given(rough_sequences())
def test_split_replay_with_carried_carrier_equals_one_pass(seq):
    rows, cuts = seq
    kw = {"airport_radius_km": 2.0}
    want, final = replay_core(1, iter(rows), fresh_carrier(), **kw)
    got, carrier = [], fresh_carrier()
    for a, b in zip([0, *cuts], [*cuts, len(rows)]):
        out, carrier = replay_core(1, iter(rows[a:b]), carrier, **kw)
        got.extend(out)
        assert [type(v) for v in carrier] == _STATE_TYPES
    assert got == want
    assert carrier == final
