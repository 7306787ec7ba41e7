"""Temporal windows + range join: hand fixtures and invariants."""

from __future__ import annotations

import datetime
import tempfile

from mapreduce_hadoop_spark.operators.temporal import (
    SLIDE_S,
    TUMBLE_S,
    events_sliding_window,
    events_tumbling_window,
    views_before_purchase_range_join,
)


def _write_events(spark, rows):
    d = tempfile.mkdtemp()
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    ev.write.mode("overwrite").parquet(f"{d}/events.parquet")
    return d


def test_sliding_covers_each_event_twice(spark, sf_dir):
    tumb = events_tumbling_window(spark, sf_dir)
    slid = events_sliding_window(spark, sf_dir)
    n_tumb = sum(r["n"] for r in tumb.collect())
    n_slid = sum(r["n"] for r in slid.collect())
    assert n_slid == n_tumb * (TUMBLE_S // SLIDE_S)


def test_tumbling_epoch_aligned(spark, sf_dir):
    for r in events_tumbling_window(spark, sf_dir).collect():
        assert r["win_start"] % TUMBLE_S == 0


def test_range_join_boundaries(spark):
    t0 = datetime.datetime(2024, 1, 10, 12, 0, 0)

    def at(**kw):
        return t0 + datetime.timedelta(**kw)

    d = _write_events(
        spark,
        [
            # purchase for user 1 at t0
            (100, t0, 1, "purchase", 0.0, "{}"),
            (0, at(hours=-24), 1, "view", 1.0, "{}"),   # exactly -24 h: included
            (1, at(hours=-23), 1, "view", 2.0, "{}"),   # inside, previous day bucket
            (2, at(minutes=-1), 1, "view", 4.0, "{}"),  # inside, same day bucket
            (3, at(seconds=0), 1, "view", 8.0, "{}"),   # at purchase ts: excluded
            (4, at(hours=-25), 1, "view", 16.0, "{}"),  # too old
            (5, at(hours=-1), 2, "view", 32.0, "{}"),   # other user
            # purchase with no views in range -> absent from output
            (101, at(days=5), 1, "purchase", 0.0, "{}"),
        ],
    )
    rows = {r["purchase_id"]: r for r in views_before_purchase_range_join(spark, d).collect()}
    assert set(rows) == {100}
    assert rows[100]["n_views"] == 3
    assert rows[100]["view_value_sum"] == 7.0


def test_range_join_hot_path_equals_pairwise(spark, sf_dir):
    """The decomposed hot branch must be byte-identical to the pairwise
    plan. At driver scales no user crosses the production threshold, so
    the oracle only ever exercises the cold branch — this test lowers the
    threshold until real users route hot (and others stay cold) and pins
    both branches to the same answer."""
    from pyspark.sql import functions as F

    from mapreduce_hadoop_spark.operators.temporal import (
        views_before_purchase_range_join,
    )
    from mapreduce_hadoop_spark.sources.tables import load_table

    views_per_user = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .count()
        .agg(F.expr("percentile(count, 0.5)").alias("med"), F.max("count").alias("mx"))
        .collect()[0]
    )
    # Median-ish threshold: a real mixed workload, both branches populated.
    threshold = int(views_per_user["med"])
    assert views_per_user["mx"] > threshold  # hot branch actually runs

    key = ["purchase_id"]
    want = (
        views_before_purchase_range_join(spark, sf_dir)  # all-cold (default)
        .toPandas().sort_values(key).reset_index(drop=True)
    )
    got = (
        views_before_purchase_range_join(spark, sf_dir, hot_views=threshold)
        .toPandas().sort_values(key).reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    for c in want.columns:
        assert (got[c].values == want[c].values).all(), c


def test_range_join_probes_hot_users_on_every_build(spark, sf_dir, jobs_run):
    """Each build of the range join runs its hot-user statistics probe:
    the routing decision is worked out from the data on every call, never
    reused from an earlier build over the same directory. A reused
    decision shows as a second build running fewer jobs than the first
    (only its table open)."""
    first, n_first = jobs_run(lambda: views_before_purchase_range_join(spark, sf_dir))
    second, n_second = jobs_run(lambda: views_before_purchase_range_join(spark, sf_dir))
    assert n_second == n_first >= 2
    assert sorted(second.collect()) == sorted(first.collect())
