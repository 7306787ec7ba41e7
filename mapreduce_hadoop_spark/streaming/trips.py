"""Streaming trip sessionization — a custom stateful operator.

The reference's trip-reconstruction state machine
(``src/AirportTripsRevenue.java:275-407``) is a batch reducer; this module
runs the *same* machine (``sessionize.replay_core``) incrementally over an
unbounded position stream with ``applyInPandasWithState``. The per-taxi
state is the machine's carrier row itself (``sessionize.Carrier``, stored
under ``STATE_SCHEMA`` with no conversion), so a taxi resumes each
micro-batch exactly where the last one left it, and a trip is emitted the
moment the machine closes it (gap split or M->E), exactly as the batch
parity path would.

Semantics and their streaming caveats, explicitly:

- Within one micro-batch a taxi's new positions are sorted by (t,
  event_id) before replay. Across micro-batches the operator assumes
  per-taxi monotone arrival (the reference's input contract after the MR
  shuffle sort); a position older than the carrier's last-seen t cannot be
  replayed into already-consumed state and is dropped. The reference drops
  such input silently; an engine should count what it drops, so the
  stream takes an optional ``dropped_acc`` Spark accumulator that
  tallies late-dropped positions.
- The reference never emits a trip still open at end-of-input. The
  stream here bounds its state instead: an event-time timeout
  force-closes any session idle longer than ``idle_gap_s``, emits the
  flushed trip (the machine's own M->E close, ``_flush_carrier``), and
  evicts the taxi's state — bounding the state store by |recently active
  taxis|. With a gap and a watermark delay longer than the input spans,
  no timeout fires and no row is watermark-dropped, so the stream emits
  exactly the batch parity rows. ``airport_trips_timeout_batch`` is its
  deterministic batch twin.
- State per taxi is O(1) — one carrier row — so the state store scales
  with |active taxis|, not with data volume.

``tests/test_streaming_trips.py`` replays the derived GPS stream with an
availableNow trigger, in one delivery and across checkpoint restarts, and
asserts output identical to the batch parity path (no timeout firing) or
to the batch twin (timeouts firing).
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from mapreduce_hadoop_spark import constants as C
from mapreduce_hadoop_spark.operators import gps
from mapreduce_hadoop_spark.operators.sessionize import (
    PARITY_COLUMNS,
    PARITY_SCHEMA,
    STATE_SCHEMA,
    Carrier,
    fresh_carrier,
    replay_core,
    replay_frame,
    run_per_taxi,
)
from mapreduce_hadoop_spark.sources.tables import ensure_confs, normalize_events


def _events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    ensure_confs(spark)
    path = f"{sf_dir}/events.parquet"
    # Raw on-disk schema: events.ts is microsecond TIMESTAMP in every table
    # this engine reads; a nanosecond input arrives as nanos-long under the
    # nanosAsLong conf, which normalize_events converts in-flight.
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


def _drop_late(pdf: pd.DataFrame, carrier: Carrier, dropped_acc) -> pd.DataFrame:
    """Drop positions older than state already consumed (module docstring),
    counting them into ``dropped_acc`` when one is supplied."""
    late = pdf["t"] < carrier.prev_t
    n_late = int(late.sum())
    if n_late and dropped_acc is not None:
        dropped_acc.add(n_late)
    return pdf[~late]


def _flush_carrier(taxi: int, carrier: Carrier, kwargs: dict) -> list[tuple]:
    """Force-close a carrier's open trip at its last-seen position.

    Reuses ``replay_core``'s own M->E close by feeding one synthetic E at
    (prev_t, prev_lat, prev_lon): delta is 0, so the machine closes the
    open trip exactly as a speed-legal M->E would — the emission test and
    6-dp rounding are bit-identical to the parity path, not re-implemented.
    A carrier with no open trip (prev_status E, or no qualifying trip)
    emits nothing, same as the machine itself.
    """
    synthetic = [(carrier.prev_t, carrier.prev_lat, carrier.prev_lon, "E", "")]
    out, _ = replay_core(taxi, synthetic, carrier, **kwargs)
    return out


def _state_fn(kwargs: dict, idle_gap_s: float, dropped_acc):
    """The per-taxi state function: replay the micro-batch's positions from
    the stored carrier, store the result and arm an event-time timeout at
    last-seen + idle gap; when it fires, flush the open trip and evict the
    taxi's state."""

    def fn(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (taxi,) = key
        carrier = Carrier(*state.get) if state.exists else fresh_carrier()
        if state.hasTimedOut:
            # Watermark passed last-seen + idle gap with no new data.
            state.remove()
            out = _flush_carrier(int(taxi), carrier, kwargs)
            yield pd.DataFrame(out, columns=PARITY_COLUMNS)
            return
        pdf = _drop_late(pd.concat(list(pdfs), ignore_index=True), carrier, dropped_acc)
        out, carrier = replay_frame(taxi, pdf, carrier, **kwargs)
        state.update(carrier)
        # The timestamp must lie beyond the current watermark (Spark
        # requirement) — an all-late batch leaves prev_t behind the
        # watermark, so clamp forward.
        state.setTimeoutTimestamp(
            max(
                int((carrier.prev_t + idle_gap_s) * 1000),
                state.getCurrentWatermarkMs() + 1,
            )
        )
        yield pd.DataFrame(out, columns=PARITY_COLUMNS)

    return fn


def airport_trips_timeout_batch(
    spark: SparkSession,
    sf_dir: str,
    idle_gap_s: float = C.MAX_SEGMENT_DELTA_TIME_S,
    **kwargs,
) -> DataFrame:
    """Driver-checkable batch twin of ``airport_trips_stream_timeout`` —
    the production trip semantics (bounded state, trailing trips emitted),
    as a deterministic batch job.

    Models a finite run of the event-time-timeout stream at its
    end-of-input watermark: each taxi replays from a fresh carrier through
    ``run_per_taxi`` (the parity path's runner), then any taxi idle longer
    than ``idle_gap_s`` against the global end-of-input watermark (max t
    over ALL taxis — one broadcast scalar) has its open trip force-closed
    through ``_flush_carrier``, exactly what the stream's timeout does when
    the final watermark passes ``prev_t + idle_gap_s``. Taxis still active
    within the gap at end-of-input keep their trip open — same as the
    store would.

    The flush decision depends only on the final watermark, not on
    micro-batch splits, so the output is deterministic, as its rows-only
    gate check requires. Not SQL-expressible (stateful fold) -> no oracle
    entry.
    """
    kwargs.setdefault("airport_radius_km", gps.DEMO_AIRPORT_RADIUS_KM)
    pos = gps.positions(spark, sf_dir)
    pos = pos.crossJoin(F.broadcast(pos.agg(F.max("t").alias("wm_t"))))

    def fn(taxi, pdf: pd.DataFrame) -> list[tuple]:
        out, carrier = replay_frame(taxi, pdf, fresh_carrier(), **kwargs)
        if float(pdf["wm_t"].iloc[0]) > carrier.prev_t + idle_gap_s:
            out.extend(_flush_carrier(int(taxi), carrier, kwargs))
        return out

    return run_per_taxi(pos, fn)


def airport_trips_stream_timeout(
    spark: SparkSession,
    sf_dir: str,
    idle_gap_s: float = C.MAX_SEGMENT_DELTA_TIME_S,
    watermark_delay: str = "0 seconds",
    dropped_acc=None,
    max_files_per_trigger: int | None = None,
    **kwargs,
) -> DataFrame:
    """Streaming DataFrame of closed airport trips (append mode), with an
    event-time timeout: any taxi idle longer than ``idle_gap_s`` (in
    compressed stream seconds, i.e. the ``t`` timescale) is force-closed —
    its open trip is flushed through the machine's own M->E close and its
    state evicted from the store.

    State is bounded by |taxis active within the idle gap| and every
    qualifying trip eventually emits. The default gap reuses the
    reference's 210 s session-split threshold
    (``AirportTripsRevenue.java:36-38``): a session the machine would have
    split on its next fix is exactly one the timeout may close in absentia.

    ``kwargs`` override the reference thresholds, as in the batch parity
    path; the demo airport radius matches the batch parity query so the
    two are directly comparable. ``dropped_acc`` (optional Spark
    accumulator) counts late positions dropped at the state boundary.
    """
    kwargs.setdefault("airport_radius_km", gps.DEMO_AIRPORT_RADIUS_KM)
    pos = gps.positions_from(_events_stream(spark, sf_dir, max_files_per_trigger))
    # The watermark rides a synthetic timestamp_seconds(t) column so
    # timeout arithmetic stays in the stream's own timescale.
    pos = pos.withColumn("t_event", F.timestamp_seconds(F.col("t"))).withWatermark(
        "t_event", watermark_delay
    )
    return pos.groupBy("taxi").applyInPandasWithState(
        _state_fn(kwargs, idle_gap_s, dropped_acc),
        outputStructType=PARITY_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
