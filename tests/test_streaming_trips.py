"""Stateful streaming trip sessionization matches the batch parity path."""

from __future__ import annotations

import pytest

from mapreduce_hadoop_spark.operators.sessionize import airport_trips_parity_query
from mapreduce_hadoop_spark.streaming.trips import (
    airport_trips_stream,
    airport_trips_stream_timeout,
    airport_trips_timeout_batch,
)


def test_stream_trips_match_batch_parity(spark, sf_dir):
    q = (
        airport_trips_stream(spark, sf_dir)
        .writeStream.format("memory")
        .queryName("trips_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(180), "stream did not finish"
    finally:
        q.stop()
    key = ["taxi", "start_t"]
    got = (
        spark.sql("select * from trips_stream_test")
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    want = (
        airport_trips_parity_query(spark, sf_dir)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    for c in want.columns:
        assert (got[c].values == want[c].values).all(), c


def test_timeout_batch_twin_is_parity_plus_flushes(spark, sf_dir):
    """The timeout twin's output is exactly the parity rows PLUS a flushed
    trailing trip for idle taxis: every parity row appears bit-identical,
    and every extra row is a force-close at the taxi's last-seen fix
    (start_t == stop_t is not required — only that it is a trailing trip
    the no-timeout path never emitted)."""
    key = ["taxi", "start_t"]
    got = airport_trips_timeout_batch(spark, sf_dir).toPandas()
    want = airport_trips_parity_query(spark, sf_dir).toPandas()
    gk = {tuple(r) for r in got[key].itertuples(index=False, name=None)}
    wk = {tuple(r) for r in want[key].itertuples(index=False, name=None)}
    assert wk <= gk, "timeout twin lost parity trips"
    merged = want.merge(got, on=key, suffixes=("_w", "_g"))
    for c in [c for c in want.columns if c not in key]:
        assert (merged[f"{c}_w"].values == merged[f"{c}_g"].values).all(), c
    extras = got[~got.apply(lambda r: (r["taxi"], r["start_t"]) in wk, axis=1)]
    # Each taxi can gain at most one flushed trailing trip.
    assert extras["taxi"].is_unique


def test_timeout_batch_twin_flushes_idle_only(spark):
    """Hand fixture: taxi 1 idle (open trip flushed at last fix), taxi 2
    active at end-of-input (trip stays open, nothing emitted)."""
    t0 = 1_600_000_000 / 40.0  # stream-time seconds
    rows = [
        # taxi 1: E then two Ms -> open trip; last fix far before wm.
        (1, t0, 0.0, 0.0, "E", "2020-09-13"),
        (1, t0 + 10, 0.0, 0.0, "M", "2020-09-13"),
        (1, t0 + 20, 0.0, 0.0, "M", "2020-09-13"),
        # taxi 2: same shape but last fix AT the watermark -> no flush.
        (2, t0 + 500, 0.0, 0.0, "E", "2020-09-13"),
        (2, t0 + 510, 0.0, 0.0, "M", "2020-09-13"),
        (2, t0 + 520, 0.0, 0.0, "M", "2020-09-13"),
    ]
    import pandas as pd

    pos = spark.createDataFrame(
        pd.DataFrame(
            rows, columns=["taxi", "t", "lat", "lon", "status", "event_date"]
        ).assign(event_id=range(len(rows)))
    )
    from unittest.mock import patch

    from mapreduce_hadoop_spark.operators import gps
    from mapreduce_hadoop_spark.streaming import trips as T

    with patch.object(gps, "positions", lambda s, d: pos):
        got = T.airport_trips_timeout_batch(
            spark,
            "ignored",
            idle_gap_s=210.0,
            min_trip_km=0.0,
            airport_radius_km=1e9,
        ).toPandas()
    # wm = t0+520; taxi 1 idle 500 s > 210 -> flushed at its last fix;
    # taxi 2 idle 0 s -> trip stays open, not emitted.
    assert list(got["taxi"]) == [1]
    assert got.iloc[0]["start_t"] == t0 + 10
    assert got.iloc[0]["stop_t"] == t0 + 20


@pytest.mark.parametrize("deliveries", [2, 4])
def test_trip_state_survives_checkpoint_restart(spark, sf_dir, tmp_path, deliveries):
    """Deliver the time-ordered corpus in ``deliveries`` slices, restarting
    the trip stream on the same checkpoint after each: the per-taxi
    carriers (incl. open trips straddling a stop) must round-trip the state
    store so the union of all runs' emissions equals the single-pass batch
    parity on the full data. Any carry bug (lost open trip, re-consumed
    position, reset previous fix) breaks bit-identity."""
    import os

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/events.parquet")
    t = t.take(pc.sort_indices(t, sort_keys=[("ts", "ascending")]))
    src, full = str(tmp_path / "src"), str(tmp_path / "full")
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    os.makedirs(src), os.makedirs(full)
    pq.write_table(t, f"{full}/events.parquet")

    def run_stream():
        q = (
            airport_trips_stream(spark, src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            assert q.awaitTermination(180), "stream did not finish"
        finally:
            q.stop()

    cuts = [t.num_rows * i // deliveries for i in range(deliveries + 1)]
    for i, (a, b) in enumerate(zip(cuts, cuts[1:])):
        name = "events.parquet" if i == 0 else f"events{i + 1}.parquet"
        pq.write_table(t.slice(a, b - a), f"{src}/{name}")
        run_stream()

    key = ["taxi", "start_t"]
    got = (
        spark.read.parquet(out).toPandas().sort_values(key).reset_index(drop=True)
    )
    want = (
        airport_trips_parity_query(spark, full)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    for c in want.columns:
        assert (got[c].values == want[c].values).all(), c


def test_late_positions_are_counted(spark, sf_dir, tmp_path):
    """Out-of-order replay: deliver the LATER half of the corpus first,
    then the earlier half. Every earlier-half position of a taxi already
    advanced by the first run is older than its carrier and must be
    dropped AND counted (the reference drops silently; we don't)."""
    import os

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/events.parquet")
    t = t.take(pc.sort_indices(t, sort_keys=[("ts", "ascending")]))
    half = t.num_rows // 2
    early, late = t.slice(0, half), t.slice(half)
    src = str(tmp_path / "src")
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    os.makedirs(src)
    pq.write_table(late, f"{src}/events.parquet")

    acc = spark.sparkContext.accumulator(0)

    def run_stream():
        q = (
            airport_trips_stream(spark, src, dropped_acc=acc)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            assert q.awaitTermination(180), "stream did not finish"
        finally:
            q.stop()

    run_stream()
    assert acc.value == 0  # in-order delivery drops nothing
    pq.write_table(early, f"{src}/events2.parquet")
    run_stream()

    # A replayed early row drops iff its t is STRICTLY below the taxi's
    # carrier (= the taxi's max late-half t); taxis only in the early half
    # start from a fresh carrier (prev_t=0) and keep everything. Computing
    # the bound per taxi (not just membership) keeps the expectation exact
    # even if a duplicate timestamp ever straddles the split.
    max_late_ts: dict[int, int] = {}
    for u, ts in zip(
        late.column("user_id").to_pylist(), late.column("ts").to_pylist()
    ):
        if u not in max_late_ts or ts > max_late_ts[u]:
            max_late_ts[u] = ts
    expected = sum(
        1
        for u, ts in zip(
            early.column("user_id").to_pylist(), early.column("ts").to_pylist()
        )
        if u in max_late_ts and ts < max_late_ts[u]
    )
    assert expected > 0
    assert acc.value == expected


def test_event_time_timeout_flushes_idle_trips(spark, tmp_path):
    """Three single-file micro-batches: taxi 1 leaves a trip open in batch
    1; batches 2 and 3 (other taxis, much later event time) advance the
    watermark past taxi 1's idle gap. The timeout must fire: the open trip
    flushes through the machine's own M->E close (stop == last-seen fix)
    and taxi 1's state is evicted from the store."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = 1_600_000_000  # epoch seconds; stream time t = ts/40
    rows = {
        "events.parquet": [
            # taxi 1: E, M, M -> open trip after the batch (never closed).
            (1, t0, 1, "other", 0.01),
            (2, t0 + 400, 1, "click", 0.02),
            (3, t0 + 800, 1, "click", 0.02),  # same value -> zero-length seg
        ],
        # idle gap 210 stream-seconds = 8400 epoch-seconds; t0+20000 is
        # far beyond taxi 1's timeout of (t0+800)/40 + 210.
        "events2.parquet": [(4, t0 + 20_000, 2, "click", 0.05)],
        "events3.parquet": [(5, t0 + 20_400, 3, "click", 0.07)],
    }
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, (name, rs) in enumerate(rows.items()):
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rs], pa.int64()),
                "ts": pa.array([r[1] * 1_000_000 for r in rs], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rs], pa.int64()),
                "event_type": pa.array([r[3] for r in rs], pa.string()),
                "value": pa.array([r[4] for r in rs], pa.float64()),
                "props": pa.array(["{}"] * len(rs), pa.string()),
            }
        )
        path = f"{src}/{name}"
        pq.write_table(tbl, path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))  # arrival order

    q = (
        airport_trips_stream_timeout(
            spark,
            src,
            max_files_per_trigger=1,
            # Every trip qualifies: no minimum distance, airport everywhere.
            min_trip_km=0.0,
            airport_radius_km=1e9,
        )
        .writeStream.format("memory")
        .queryName("trips_timeout_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        import json

        assert q.awaitTermination(180), "stream did not finish"
        progress = [json.loads(p.json) for p in q.recentProgress]
    finally:
        q.stop()

    got = spark.sql("select * from trips_timeout_test").toPandas()
    # Only taxi 1's trip was both opened and idle long enough to flush;
    # taxis 2/3 never had the watermark pass their timeout.
    assert list(got["taxi"]) == [1]
    row = got.iloc[0]
    assert row["start_t"] == (t0 + 400) / 40.0
    assert row["stop_t"] == (t0 + 800) / 40.0  # flushed AT the last-seen fix
    assert row["dist_km"] == 0.0
    assert row["revenue"] == 3.5  # START_FEE: zero-length trip
    # State eviction is visible in the state-store metrics.
    removed = sum(
        so.get("numRowsRemoved", 0)
        for p in progress
        for so in p.get("stateOperators", [])
    )
    assert removed >= 1, progress
