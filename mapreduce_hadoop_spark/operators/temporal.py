"""Time-window aggregation and range joins (north-star extensions).

The reference has no time-window operators beyond the sessionization gap
rule (SURVEY.md §2.4 "Streaming ... Absent"); these add the standard
temporal surface an analytics engine needs:

- ``events_tumbling_window``: fixed 6-hour tumbling windows via Spark's
  native ``F.window`` (epoch-aligned, same convention DuckDB's epoch
  arithmetic reproduces exactly).
- ``events_sliding_window``: 6-hour windows sliding every 3 hours — each
  event lands in exactly duration/slide windows; Spark materializes the
  copies inside ``F.window``, the oracle reproduces them with a 2-way
  UNION ALL of shifted buckets.
- ``views_before_purchase_range_join``: interval join (view events in the
  24 h before each purchase, same user). The scalable formulation avoids
  the O(n·m) inequality join: both sides are bucketed to calendar days,
  the purchase's lookback interval explodes into its (bounded, 2-row) day
  buckets, the join is a plain equi-join on (user, day), and the precise
  range predicate runs as a residual filter. At 100 TB the equi-join
  shuffles on a high-cardinality composite key instead of broadcasting an
  inequality — the standard bin-then-refine range-join pattern.

All windows are emitted as epoch-second doubles so both engines hash the
same representation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_hadoop_spark.functions import fixedpoint as FP
from mapreduce_hadoop_spark.sources.tables import load_table

TUMBLE_S = 6 * 3600
SLIDE_S = 3 * 3600


def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event-type counts/sums over 6-hour tumbling windows."""
    ev = load_table(spark, sf_dir, "events")
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


EVENTS_TUMBLING_ORACLE = f"""
WITH g AS (
    SELECT floor(epoch(ts) / {TUMBLE_S}) * {TUMBLE_S}.0 AS win_start,
           event_type,
           count(*)                      AS n,
           {FP.sum_micro_sql('"value"')} AS v_u
    FROM events
    GROUP BY 1, 2
)
SELECT win_start, event_type, n, {FP.round_micro_sql("v_u")} AS value_sum FROM g
"""


def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event-type counts/sums over 6-hour windows sliding every 3 hours."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", f"{TUMBLE_S} seconds", f"{SLIDE_S} seconds").alias("w"),
            "event_type",
        )
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


# An event at t belongs to the two 3h-aligned window starts
# floor(t/slide)*slide and floor(t/slide)*slide - slide (duration = 2 slides).
EVENTS_SLIDING_ORACLE = f"""
WITH expanded AS (
    SELECT floor(epoch(ts) / {SLIDE_S}) * {SLIDE_S}.0 AS win_start, event_type, "value"
    FROM events
    UNION ALL
    SELECT floor(epoch(ts) / {SLIDE_S}) * {SLIDE_S}.0 - {SLIDE_S}, event_type, "value"
    FROM events
)
SELECT win_start, event_type, n, {FP.round_micro_sql("v_u")} AS value_sum
FROM (
    SELECT win_start, event_type,
           count(*)                      AS n,
           {FP.sum_micro_sql('"value"')} AS v_u
    FROM expanded
    GROUP BY 1, 2
)
"""


RANGE_H = 24
# A user routes through the decomposed (hot) path once its view count
# makes the pairwise candidate set per purchase comparable to the
# decomposition's fixed 23-bucket fanout. ~1000 views over the corpus
# window is far past that crossover and far above any uniform-key count.
RANGE_HOT_VIEWS = 1000

def views_before_purchase_range_join(
    spark: SparkSession, sf_dir: str, hot_views: int = RANGE_HOT_VIEWS
) -> DataFrame:
    """View events within the 24 h before each purchase, same user —
    skew-routed interval join.

    The pairwise bin-then-refine equi-join (both sides bucketed to
    calendar days, 2-day probe fanout, interval as residual filter) is
    optimal for uniform keys but materializes every (purchase, view) pair
    inside the window; under a hot user (the sf1-skew shape: one user
    with 10% of events) that is views x purchases per key — the blowup is
    in the candidate set itself, so no join strategy fixes it. The cure
    for hot keys is bucket DECOMPOSITION: a purchase's 24 h lookback
    [pts-24h, pts) splits exactly into 23 FULL hour buckets (h_p-23 ..
    h_p-1) joined against a per-(user, hour) pre-aggregate — one row per
    bucket, never the raw views — plus two partial EDGE buckets (h_p-24,
    h_p) refined row-level. Per hot purchase: 23 + 2*views_per_hour rows
    instead of views_per_24h, and the hot user's work spreads over all
    its hour buckets instead of one (user, day) key.

    Routing is a CBO-style statistics probe, same spirit as AQE's runtime
    re-planning: one map-side-combined count per user decides whether any
    hot key exists (> RANGE_HOT_VIEWS views). The overwhelmingly common
    no-hot-key case then runs the PURE pairwise plan — zero routing
    subtrees, zero overhead; only when hot keys exist does the plan split
    into cold (pairwise) + hot (decomposed) branches. The stat job costs
    one scan + a |users|-row shuffle — negligible against the join it
    protects, at any scale.

    Exact, not approximate: both paths compute the same counts and
    fixed-point micro-sums (decomposable BIGINT aggregates), so the
    driver's hash check against the unchanged pairwise oracle proves
    equality on every byte.
    """
    ev = load_table(spark, sf_dir, "events")
    hour = (F.col("ts").cast("long") / F.lit(3600)).cast("long")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("vts"),
        "value",
        hour.alias("vh"),
        F.to_date("ts").alias("day"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("pts"),
        hour.alias("ph"),
    )
    hot_users = (
        views.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_v"))
        .filter(F.col("n_v") > hot_views)
        .select("user_id")
    )
    in_window = (
        F.col("vts") >= F.col("pts") - F.expr(f"INTERVAL {RANGE_H} HOURS")
    ) & (F.col("vts") < F.col("pts"))
    contribution = [
        F.col("purchase_id"),
        F.lit(1).cast("long").alias("n"),
        FP.micro("value").alias("v"),
    ]

    def finish(parts: DataFrame) -> DataFrame:
        return (
            parts.groupBy("purchase_id")
            .agg(F.sum("n").alias("n_views"), F.sum("v").alias("v_u"))
            .select(
                "purchase_id",
                "n_views",
                FP.round_micro("v_u").alias("view_value_sum"),
            )
        )

    def pairwise(p: DataFrame, v: DataFrame) -> DataFrame:
        return (
            p.withColumn(
                "p_day",
                F.explode(
                    F.sequence(F.date_sub(F.to_date("pts"), 1), F.to_date("pts"))
                ),
            )
            .join(v, (F.col("p_user") == v["user_id"]) & (F.col("p_day") == v["day"]))
            .filter(in_window)
            .select(*contribution)
        )

    # The statistics probe, run on every build: no hot keys -> the pairwise
    # plan, untouched.
    if hot_users.isEmpty():
        return finish(pairwise(purchases, views))

    # Cold branch: pairwise day-bucket join (2-row probe fanout).
    cold = pairwise(
        purchases.join(
            F.broadcast(hot_users.withColumnRenamed("user_id", "p_user")),
            "p_user",
            "left_anti",
        ),
        views.join(F.broadcast(hot_users), "user_id", "left_anti"),
    )

    # Hot path: hour-bucket decomposition (full buckets hit pre-aggregates).
    hot_view_rows = views.join(F.broadcast(hot_users), "user_id", "left_semi")
    hot_purch = purchases.join(
        F.broadcast(hot_users.withColumnRenamed("user_id", "p_user")),
        "p_user",
        "left_semi",
    )
    vagg = hot_view_rows.groupBy("user_id", "vh").agg(
        F.count(F.lit(1)).alias("b_n"), FP.sum_micro("value").alias("b_v")
    )
    full = (
        hot_purch.withColumn(
            "p_vh", F.explode(F.sequence(F.col("ph") - 23, F.col("ph") - 1))
        )
        .join(
            vagg,
            (F.col("p_user") == vagg["user_id"]) & (F.col("p_vh") == vagg["vh"]),
        )
        .select("purchase_id", F.col("b_n").alias("n"), F.col("b_v").alias("v"))
    )
    edges = (
        hot_purch.withColumn(
            "p_vh", F.explode(F.array(F.col("ph") - 24, F.col("ph")))
        )
        .join(
            hot_view_rows,
            (F.col("p_user") == hot_view_rows["user_id"])
            & (F.col("p_vh") == hot_view_rows["vh"]),
        )
        .filter(in_window)
        .select(*contribution)
    )

    return finish(cold.unionByName(full).unionByName(edges))


VIEWS_BEFORE_PURCHASE_ORACLE = f"""
WITH g AS (
    SELECT p.event_id AS purchase_id,
           count(*)                         AS n_views,
           {FP.sum_micro_sql('v."value"')}  AS v_u
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON v.user_id = p.user_id
     AND v.ts >= p.ts - INTERVAL {RANGE_H} HOUR
     AND v.ts <  p.ts
    GROUP BY p.event_id
)
SELECT purchase_id, n_views, {FP.round_micro_sql("v_u")} AS view_value_sum FROM g
"""


# --- calendar gap-fill / resample -----------------------------------------


def events_daily_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event counts per type resampled onto a dense calendar: days
    with no events appear with n = 0 (time-series training data needs
    gapless grids; a bare groupBy silently drops empty buckets).

    The dense (type x day) spine is built in-plan: the global [min, max]
    date range is one scalar aggregate broadcast into `sequence()` +
    explode, cross-joined with the distinct types (both sides tiny — the
    spine is O(types x days) regardless of fact size), then left-joined
    with the per-day counts. The only fact-sized shuffle is the groupBy.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type"), F.to_date("ts").alias("day"), F.col("value")
    )
    counts = (
        ev.groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("n"), FP.sum_micro("value").alias("v_u"))
        .select(
            "event_type", "day", "n", FP.round_micro("v_u").alias("sum_value")
        )
    )
    span = ev.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    days = span.select(
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day")
    )
    types = ev.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(days))
    return (
        spine.join(counts, ["event_type", "day"], "left")
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce("n", F.lit(0)).alias("n"),
            F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
        )
    )


EVENTS_GAPFILL_ORACLE = f"""
WITH ev AS (
    SELECT event_type, CAST(ts AS DATE) AS day, "value" FROM events
),
counts AS (
    SELECT event_type, day, n, {FP.round_micro_sql("v_u")} AS sum_value
    FROM (
        SELECT event_type, day, count(*) AS n,
               {FP.sum_micro_sql('"value"')} AS v_u
        FROM ev GROUP BY event_type, day
    )
),
days AS (
    SELECT unnest(generate_series(min(day), max(day), INTERVAL 1 DAY))::DATE AS day
    FROM ev
),
spine AS (
    SELECT t.event_type, d.day
    FROM (SELECT DISTINCT event_type FROM ev) t CROSS JOIN days d
)
SELECT s.event_type,
       strftime(s.day, '%Y-%m-%d') AS day,
       coalesce(n, 0) AS n,
       coalesce(sum_value, 0.0) AS sum_value
FROM spine s LEFT JOIN counts c
  ON c.event_type = s.event_type AND c.day = s.day
"""


# --- interval concurrency (sweep line) -------------------------------------

CONCURRENCY_BUCKET_S = 600.0  # compressed-stream seconds per bucket


def trips_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many reconstructed trips are active at the end of each time
    bucket — the classic interval-concurrency (sweep line) question, asked
    of every fleet ("how many taxis were on a job at 5pm?").

    Scalable sweep without a global sort over events: each trip emits
    (+1 at start_t, -1 at stop_t); deltas aggregate per fixed bucket
    (shuffle on the bucket key, map-side combined), and ONLY the
    bucket-level relation — whose size grows with the time span, never
    with data volume — takes the cumulative-sum window over a single
    partition. A trip stopping exactly on a boundary counts as ended in
    that bucket (start <= end-of-bucket < stop defines "active").

    Both deltas are emitted in ONE pass over the trips relation (explode
    of a 2-struct array), so the expensive sessionize subtree — scan,
    clean, shuffle, per-taxi window, session aggregation — plans and
    executes exactly once; a start/stop UNION of two selects would plan
    it twice (ReuseExchange dedupes only the shuffle, not the window
    sort + aggregation above it).
    """
    from mapreduce_hadoop_spark.operators.sessionize import trips_window_query

    trips = trips_window_query(spark, sf_dir)
    bucket = lambda c: F.floor(F.col(c) / F.lit(CONCURRENCY_BUCKET_S)).cast("long")
    one, zero = F.lit(1).cast("long"), F.lit(0).cast("long")
    deltas = trips.select(
        F.explode(
            F.array(
                F.struct(
                    bucket("start_t").alias("bucket"),
                    one.alias("d_start"),
                    zero.alias("d_stop"),
                ),
                F.struct(
                    bucket("stop_t").alias("bucket"),
                    zero.alias("d_start"),
                    one.alias("d_stop"),
                ),
            )
        ).alias("d")
    ).select("d.bucket", "d.d_start", "d.d_stop")
    per_bucket = (
        deltas.groupBy("bucket")
        .agg(
            F.sum("d_start").alias("n_started"),
            F.sum("d_stop").alias("n_stopped"),
        )
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return per_bucket.select(
        "bucket",
        "n_started",
        "n_stopped",
        F.sum(F.col("n_started") - F.col("n_stopped")).over(w).alias("active_end"),
    )


def _trips_concurrency_oracle() -> str:
    from mapreduce_hadoop_spark.operators.sessionize import TRIPS_WINDOW_ORACLE

    return f"""
WITH trips AS ({TRIPS_WINDOW_ORACLE}),
deltas AS (
    SELECT CAST(floor(start_t / {CONCURRENCY_BUCKET_S}) AS BIGINT) AS bucket,
           1 AS d_start, 0 AS d_stop
    FROM trips
    UNION ALL
    SELECT CAST(floor(stop_t / {CONCURRENCY_BUCKET_S}) AS BIGINT) AS bucket,
           0 AS d_start, 1 AS d_stop
    FROM trips
),
per_bucket AS (
    SELECT bucket,
           CAST(sum(d_start) AS BIGINT) AS n_started,
           CAST(sum(d_stop) AS BIGINT)  AS n_stopped
    FROM deltas GROUP BY bucket
)
SELECT bucket, n_started, n_stopped,
       CAST(sum(n_started - n_stopped) OVER (
           ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS active_end
FROM per_bucket
"""


TRIPS_CONCURRENCY_ORACLE = _trips_concurrency_oracle()


# --- event funnel -----------------------------------------------------------

FUNNEL_STAGES = ("view", "click", "purchase")


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered three-stage funnel (view -> click -> purchase): for each
    user, the first view, the first click STRICTLY AFTER that view, and
    the first purchase strictly after that click; output is the classic
    funnel report — (stage, stage_idx, n_users, conv_from_prev), 3 rows.

    One shuffle: the three stage timestamps are stacked conditional
    window-mins over the SAME user partitioning (no order-by, no sort),
    then a single per-user row feeds a global conditional count. Ordered
    semantics (not "has all three types") is what makes it a funnel:
    a purchase before the first view does not convert.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    t1 = F.min(F.when(F.col("event_type") == FUNNEL_STAGES[0], F.col("ts"))).over(w)
    ev = ev.select("*", t1.alias("t1"))
    t2 = F.min(
        F.when(
            (F.col("event_type") == FUNNEL_STAGES[1]) & (F.col("ts") > F.col("t1")),
            F.col("ts"),
        )
    ).over(w)
    ev = ev.select("*", t2.alias("t2"))
    t3 = F.min(
        F.when(
            (F.col("event_type") == FUNNEL_STAGES[2]) & (F.col("ts") > F.col("t2")),
            F.col("ts"),
        )
    ).over(w)
    per_user = (
        ev.select("user_id", "t1", "t2", t3.alias("t3"))
        .groupBy("user_id")
        .agg(F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3"))
    )
    tot = per_user.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count("t1").alias("n1"),
        F.count("t2").alias("n2"),
        F.count("t3").alias("n3"),
    )
    stages = F.array(
        *[
            F.struct(
                F.lit(name).alias("stage"),
                F.lit(i + 1).alias("stage_idx"),
                F.col(f"n{i + 1}").alias("n_users"),
                F.round(
                    F.col(f"n{i + 1}").cast("double")
                    / F.when(
                        F.col("n_total" if i == 0 else f"n{i}") > 0,
                        F.col("n_total" if i == 0 else f"n{i}"),
                    ).cast("double"),
                    6,
                ).alias("conv_from_prev"),
            )
            for i, name in enumerate(FUNNEL_STAGES)
        ]
    )
    return tot.select(F.explode(stages).alias("s")).select("s.*")


EVENTS_FUNNEL_ORACLE = f"""
WITH t1 AS (
    SELECT user_id, min(ts) FILTER (event_type = '{FUNNEL_STAGES[0]}') AS t1
    FROM events GROUP BY user_id
),
t2 AS (
    SELECT e.user_id,
           min(e.ts) FILTER (e.event_type = '{FUNNEL_STAGES[1]}' AND e.ts > t1.t1) AS t2
    FROM events e JOIN t1 ON e.user_id = t1.user_id
    GROUP BY e.user_id
),
t3 AS (
    SELECT e.user_id,
           min(e.ts) FILTER (e.event_type = '{FUNNEL_STAGES[2]}' AND e.ts > t2.t2) AS t3
    FROM events e JOIN t2 ON e.user_id = t2.user_id
    GROUP BY e.user_id
),
u AS (
    SELECT t1.user_id, t1.t1, t2.t2, t3.t3
    FROM t1 JOIN t2 USING (user_id) JOIN t3 USING (user_id)
),
c AS (
    SELECT count(*) AS n_total,
           CAST(count(t1) AS BIGINT) AS n1,
           CAST(count(t2) AS BIGINT) AS n2,
           CAST(count(t3) AS BIGINT) AS n3
    FROM u
)
SELECT s.stage, s.stage_idx, s.n_users, s.conv_from_prev
FROM c, LATERAL (VALUES
    ('{FUNNEL_STAGES[0]}', 1, n1,
     round(n1::DOUBLE / CASE WHEN n_total > 0 THEN n_total END, 6)),
    ('{FUNNEL_STAGES[1]}', 2, n2,
     round(n2::DOUBLE / CASE WHEN n1 > 0 THEN n1 END, 6)),
    ('{FUNNEL_STAGES[2]}', 3, n3,
     round(n3::DOUBLE / CASE WHEN n2 > 0 THEN n2 END, 6))
) AS s(stage, stage_idx, n_users, conv_from_prev)
"""


# --- cohort retention -------------------------------------------------------

WEEK_S = 7 * 24 * 3600


def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users are cohorted by the week of
    their FIRST ``signup`` event; a cohort member is retained in week
    offset k if they have ANY event in cohort_week + k. Output is the
    classic retention triangle — (cohort_week, week_offset, n_users) —
    with offset 0 counting the cohort itself (every member has at least
    the signup event there).

    Scale shape: the signup-min aggregation and the activity join share
    the user_id key (one co-partitioned shuffle pair), the per-(user,
    cohort, offset) distinct folds map-side into its own aggregation, and
    the final matrix is cohort-cardinality-sized. Pre-signup activity
    (offset < 0) is excluded — retention counts forward from the cohort
    week only.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    week = lambda c: F.floor(c.cast("double") / F.lit(float(WEEK_S)))  # noqa: E731
    su = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
        .select("user_id", week(F.col("t0")).alias("cohort_week"))
    )
    act = (
        ev.join(su, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (week(F.col("ts")) - F.col("cohort_week")).alias("week_offset"),
        )
        .filter(F.col("week_offset") >= 0)
        .distinct()
    )
    return act.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("n_users")
    )


EVENTS_COHORT_ORACLE = f"""
WITH su AS (
    SELECT user_id,
           CAST(floor(epoch(min(ts)) / {WEEK_S}) AS BIGINT) AS cohort_week
    FROM events WHERE event_type = 'signup' GROUP BY user_id
),
act AS (
    SELECT DISTINCT e.user_id, su.cohort_week,
           CAST(floor(epoch(e.ts) / {WEEK_S}) AS BIGINT) - su.cohort_week
               AS week_offset
    FROM events e JOIN su USING (user_id)
)
SELECT cohort_week, week_offset, count(*) AS n_users
FROM act WHERE week_offset >= 0
GROUP BY cohort_week, week_offset
"""
