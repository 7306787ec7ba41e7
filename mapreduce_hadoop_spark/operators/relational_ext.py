"""Extended relational operators: rollup, as-of join, JSON, sketches, set ops.

None of these exist in the reference (SURVEY.md §2.4 "Absent" rows) — they
round out the engine surface a production user expects. Each is
oracle-checked except the approximate sketch (algorithm-specific estimates
can't match across engines; tests bound its error against the exact
companion instead).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_hadoop_spark.functions import fixedpoint as FP
from mapreduce_hadoop_spark.sources.tables import load_table


# --- ROLLUP ---------------------------------------------------------------


def events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical day -> event_type rollup with subtotal + grand-total rows."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"),
            "event_type",
            "value",
        )
        .rollup("day", "event_type")
        .agg(F.count(F.lit(1)).alias("n"), FP.sum_micro("value").alias("value_u"))
        .select("day", "event_type", "n", FP.round_micro("value_u").alias("value_sum"))
    )


EVENTS_ROLLUP_ORACLE = f"""
WITH g AS (
    SELECT
        strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
        event_type,
        count(*) AS n,
        {FP.sum_micro_sql('"value"')} AS value_u
    FROM events
    GROUP BY ROLLUP (1, 2)
)
SELECT day, event_type, n, {FP.round_micro_sql("value_u")} AS value_sum FROM g
"""


def events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full cube over (day, event_type): all four grouping sets in one pass
    (partial aggregation runs once per input row, then expands)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"),
            "event_type",
            "value",
        )
        .cube("day", "event_type")
        .agg(F.count(F.lit(1)).alias("n"), FP.sum_micro("value").alias("value_u"))
        .select("day", "event_type", "n", FP.round_micro("value_u").alias("value_sum"))
    )


EVENTS_CUBE_ORACLE = f"""
WITH g AS (
    SELECT
        strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
        event_type,
        count(*) AS n,
        {FP.sum_micro_sql('"value"')} AS value_u
    FROM events
    GROUP BY CUBE (1, 2)
)
SELECT day, event_type, n, {FP.round_micro_sql("value_u")} AS value_sum FROM g
"""


# --- PIVOT ------------------------------------------------------------------

_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PIVOT_ALIASES = ["p1_urgent", "p2_high", "p3_medium", "p4_not_specified", "p5_low"]


def orders_pivot_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order counts pivoted to one column per priority, per order status.

    The value list is explicit — with it, Spark plans a single pass
    (no extra distinct-values job), which is the only sane shape at scale.
    """
    orders = load_table(spark, sf_dir, "orders")
    piv = (
        orders.groupBy("o_orderstatus")
        .pivot("o_orderpriority", _PRIORITIES)
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )
    renamed = piv.select(
        "o_orderstatus",
        *[F.col(f"`{p}`").alias(a) for p, a in zip(_PRIORITIES, _PIVOT_ALIASES)],
    )
    return renamed.orderBy("o_orderstatus")


ORDERS_PIVOT_ORACLE = """
SELECT o_orderstatus,
       count(*) FILTER (o_orderpriority = '1-URGENT')        AS p1_urgent,
       count(*) FILTER (o_orderpriority = '2-HIGH')          AS p2_high,
       count(*) FILTER (o_orderpriority = '3-MEDIUM')        AS p3_medium,
       count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS p4_not_specified,
       count(*) FILTER (o_orderpriority = '5-LOW')           AS p5_low
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


# --- UNPIVOT / melt ---------------------------------------------------------


def lineitem_measures_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide -> long via the native ``unpivot`` (reference O9e did this shape
    manually with explode; this is the declared relational form): the four
    lineitem measures become (measure, value) rows, then a grouped profile
    per measure. Unpivot is a zero-shuffle row multiplier — the aggregation
    is the only exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="value",
    )
    return (
        long.groupBy("measure")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # min/max are order-independent; only the mean needs the
            # fixed-point treatment.
            F.round(F.min("value"), 6).alias("v_min"),
            F.round(F.max("value"), 6).alias("v_max"),
            FP.sum_micro("value").alias("v_u"),
        )
        .select(
            "measure",
            "n",
            "v_min",
            "v_max",
            FP.avg_micro("v_u", "n").alias("v_avg"),
        )
        .orderBy("measure")
    )


LINEITEM_UNPIVOT_ORACLE = f"""
SELECT measure,
       n,
       v_min,
       v_max,
       {FP.avg_micro_sql("v_u", "n")} AS v_avg
FROM (
    SELECT measure,
           count(*)            AS n,
           round(min("value"), 6) AS v_min,
           round(max("value"), 6) AS v_max,
           {FP.sum_micro_sql('"value"')} AS v_u
    FROM (
        UNPIVOT (SELECT l_orderkey, l_linenumber,
                        l_quantity, l_extendedprice, l_discount, l_tax
                 FROM lineitem)
        ON l_quantity, l_extendedprice, l_discount, l_tax
        INTO NAME measure VALUE "value"
    )
    GROUP BY measure
)
ORDER BY measure
"""


# --- exact percentiles ------------------------------------------------------


def lineitem_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p25/p50/p75 of extended price per return flag.

    Spark's ``percentile`` and DuckDB's ``quantile_cont`` share the
    linear-interpolation definition, so exact values agree. At 100 TB the
    exact percentile sorts each group; ``approx_percentile`` (t-digest,
    bounded memory) is the drop-in scale path when ±0.1 % suffices.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.percentile("l_extendedprice", F.lit(0.25)), 6).alias("p25"),
            F.round(F.percentile("l_extendedprice", F.lit(0.5)), 6).alias("p50"),
            F.round(F.percentile("l_extendedprice", F.lit(0.75)), 6).alias("p75"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


LINEITEM_PERCENTILES_ORACLE = """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
       round(quantile_cont(l_extendedprice, 0.50), 6) AS p50,
       round(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
       count(*) AS n
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def approx_lineitem_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based percentiles (bounded memory, no per-group sort) — the
    100 TB path beside the exact ``lineitem_percentiles``. Estimates are
    algorithm-specific, so the driver records a rows-only check; tests bound
    the error against the exact twin (same pattern as the HLL sketch)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(
                F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(10000)), 6
            ).alias("p50_approx"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


# --- skew-resistant two-phase (salted) aggregation ---------------------------

_N_SALTS = 32


def events_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user value sum with explicit salting: phase 1 aggregates on
    (user, salt) so a hot user's rows spread over _N_SALTS reducers; phase 2
    merges the partials. Result is identical to the direct groupBy (the
    oracle) — this entry pins the pattern used when one key is large enough
    to overwhelm a single task and AQE skew-join can't apply (aggregation,
    not join). Rounding happens once, after the final merge.
    """
    ev = load_table(spark, sf_dir, "events")
    partial = (
        ev.withColumn("salt", F.pmod(F.hash("event_id"), F.lit(_N_SALTS)))
        .groupBy("user_id", "salt")
        # Partial sums are micro-unit BIGINTs, so the salted two-phase
        # merge is exact whatever order the salts combine in.
        .agg(FP.sum_micro("value").alias("ps_u"), F.count(F.lit(1)).alias("pn"))
    )
    return (
        partial.groupBy("user_id")
        .agg(F.sum("ps_u").alias("s_u"), F.sum("pn").alias("n"))
        .select("user_id", FP.round_micro("s_u").alias("value_sum"), "n")
        .orderBy("user_id")
    )


EVENTS_SALTED_ORACLE = f"""
WITH g AS (
    SELECT user_id,
           {FP.sum_micro_sql('"value"')} AS s_u,
           count(*)                      AS n
    FROM events
    GROUP BY user_id
)
SELECT user_id, {FP.round_micro_sql("s_u")} AS value_sum, n
FROM g
ORDER BY user_id
"""


# --- as-of join -----------------------------------------------------------


def purchase_asof_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase event joined to the same user's latest view event
    at-or-before it (point-in-time / as-of join). Ties — several views
    sharing the latest eligible timestamp — resolve to the MAX view_id;
    an as-of without a pinned tie rule is nondeterministic exactly when
    the data gets interesting (the sf1-skew gate caught DuckDB's native
    ASOF picking an arbitrary tied row, 48705ef:GATE_sf1skew_r4.log).

    Scalable formulation: union the two streams tagged, one window pass per
    key carries the last-seen view forward (``last(..., ignorenulls)``
    over (t, is_probe, view_id) order, so the carried view is the max-id
    tied one). One shuffle on the key, no range-join explosion — the
    classic time-series as-of shape. The oracle is an independent
    pairwise formulation with the same explicit tie rule.
    """
    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("key"),
        F.col("ts").alias("t"),
        F.lit(0).alias("is_probe"),
        F.col("event_id").alias("view_id"),
        F.lit(None).cast("long").alias("purchase_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("key"),
        F.col("ts").alias("t"),
        F.lit(1).alias("is_probe"),
        F.lit(None).cast("long").alias("view_id"),
        F.col("event_id").alias("purchase_id"),
    )
    # Views sort before purchases at equal t (is_probe asc) => "at-or-before"
    # is inclusive; view_id breaks ties deterministically.
    w = (
        Window.partitionBy("key")
        .orderBy("t", "is_probe", "view_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    merged = views.unionByName(purchases).select(
        "*",
        F.last("view_id", ignorenulls=True).over(w).alias("last_view_id"),
    )
    return merged.filter(F.col("is_probe") == 1).select(
        "purchase_id",
        F.col("key").alias("user_id"),
        F.col("t").cast("double").alias("purchase_t"),
        "last_view_id",
    )


PURCHASE_ASOF_ORACLE = """
SELECT purchase_id, user_id, purchase_t, last_view_id FROM (
    SELECT
        p.event_id AS purchase_id,
        p.user_id,
        epoch(p.ts) AS purchase_t,
        v.event_id AS last_view_id,
        row_number() OVER (
            PARTITION BY p.event_id
            ORDER BY v.ts DESC NULLS LAST, v.event_id DESC NULLS LAST
        ) AS rn
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (
        SELECT user_id, ts, event_id FROM events WHERE event_type = 'view'
    ) v ON v.user_id = p.user_id AND v.ts <= p.ts
) WHERE rn = 1
"""


# --- JSON extraction ------------------------------------------------------


def event_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the JSON props column and aggregate the extracted field."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
            F.round(F.avg("k"), 6).alias("k_avg"),
        )
        .orderBy("event_type")
    )


EVENT_PROPS_ORACLE = """
SELECT
    event_type,
    count(k)  AS n_with_k,
    min(k)    AS k_min,
    max(k)    AS k_max,
    round(avg(k), 6) AS k_avg
FROM (SELECT event_type, json_extract(props, '$.k')::INT AS k FROM events)
GROUP BY event_type
ORDER BY event_type
"""


# --- distinct counting: exact + sketch ------------------------------------


def distinct_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-day distinct users (the oracle-checkable companion)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"))
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("day")
    )


DISTINCT_USERS_ORACLE = """
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
       count(DISTINCT user_id) AS n_users
FROM events GROUP BY 1 ORDER BY 1
"""


def approx_distinct_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ sketch per day — rows-only driver check (estimates are
    algorithm-specific); tests bound its error against the exact count."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"))
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("n_users_approx"))
        .orderBy("day")
    )


# --- window-function breadth ------------------------------------------------


def customer_balance_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking/navigation/frame window functions in one pass per nation:
    rank + dense_rank + percent_rank over a banded (tie-rich) order,
    ntile/lead/running-sum over the fully deterministic order. Both window
    specs share the partition key, so Catalyst plans ONE shuffle."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.floor(F.col("c_acctbal") / 1000).alias("band"),
    )
    w_band = Window.partitionBy("c_nationkey").orderBy(F.col("band").desc())
    w_total = Window.partitionBy("c_nationkey").orderBy(
        F.col("band").desc(), "c_custkey"
    )
    return cust.select(
        "c_custkey",
        "c_nationkey",
        "band",
        F.rank().over(w_band).alias("band_rank"),
        F.dense_rank().over(w_band).alias("band_dense"),
        F.round(F.percent_rank().over(w_band), 6).alias("band_pct"),
        F.ntile(4).over(w_total).alias("quartile"),
        F.lead("c_custkey").over(w_total).alias("next_custkey"),
        F.round(
            F.sum("c_acctbal").over(
                w_total.rowsBetween(Window.unboundedPreceding, 0)
            ),
            4,
        ).alias("running_bal"),
    )


CUSTOMER_WINDOWS_ORACLE = """
SELECT
    c_custkey,
    c_nationkey,
    band,
    rank()       OVER wb AS band_rank,
    dense_rank() OVER wb AS band_dense,
    round(percent_rank() OVER wb, 6) AS band_pct,
    ntile(4)     OVER wt AS quartile,
    lead(c_custkey) OVER wt AS next_custkey,
    round(sum(c_acctbal) OVER (PARTITION BY c_nationkey
                               ORDER BY band DESC, c_custkey
                               ROWS UNBOUNDED PRECEDING), 4) AS running_bal
FROM (SELECT c_custkey, c_nationkey, c_acctbal,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS band
      FROM customer)
WINDOW wb AS (PARTITION BY c_nationkey ORDER BY band DESC),
       wt AS (PARTITION BY c_nationkey ORDER BY band DESC, c_custkey)
"""


# --- deterministic hash sampling --------------------------------------------

from mapreduce_hadoop_spark.functions.hashing import md5_long, md5_long_sql  # noqa: E402

SAMPLE_MOD = 10  # keep 1/10th


def events_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible ~10% sample: keep rows whose portable 60-bit key hash
    is 0 mod 10. Unlike rand()/TABLESAMPLE, the sample is a pure function
    of the key — stable across engines, retries, and partitionings, which
    is what a training-data pipeline needs for held-out splits."""
    ev = load_table(spark, sf_dir, "events")
    h = md5_long(F.col("event_id").cast("string"))
    return ev.filter(h % SAMPLE_MOD == 0).select(
        "event_id", "user_id", "event_type", "value"
    )


EVENTS_HASH_SAMPLE_ORACLE = f"""
SELECT event_id, user_id, event_type, "value"
FROM events
WHERE ({md5_long_sql("CAST(event_id AS VARCHAR)")}) % {SAMPLE_MOD} = 0
"""


# --- set operations -------------------------------------------------------


def segment_customer_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT over customer key sets of two segments
    (per-nation membership sets), emitted as one labeled relation.

    Evaluated as ONE membership aggregate: the
    set-operator formulation planned SIX c_nationkey exchanges over THREE
    scans of customer (each branch re-distincted its inputs; Catalyst
    reuses none of them because every branch filter differs). Grouping
    the two-segment scan once by nation with max(seg = X) membership
    flags, then deriving the three labeled rows in-row (union = the row
    exists at all; intersect = both flags; except = a and not b) produces
    the identical relation — sets are distinct by construction here
    (``a``/``b`` were DISTINCT nation sets, so EXCEPT ALL == EXCEPT) —
    from one scan and one exchange. The oracle keeps the set-operator
    formulation, so the hash pins the equivalence."""
    cust = load_table(spark, sf_dir, "customer")
    flags = (
        cust.filter(F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"))
        .groupBy("c_nationkey")
        .agg(
            F.max(
                F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0)
            ).alias("in_a"),
            F.max(
                F.when(F.col("c_mktsegment") == "AUTOMOBILE", 1).otherwise(0)
            ).alias("in_b"),
        )
    )
    ops = F.filter(
        F.array(
            # Every grouped nation has >= 1 customer in a or b: union row.
            F.lit("union"),
            F.when(
                (F.col("in_a") == 1) & (F.col("in_b") == 1), F.lit("intersect")
            ),
            F.when(
                (F.col("in_a") == 1) & (F.col("in_b") == 0), F.lit("except")
            ),
        ),
        lambda x: x.isNotNull(),
    )
    return flags.select(F.explode(ops).alias("op"), "c_nationkey")


SETOPS_ORACLE = """
WITH a AS (SELECT DISTINCT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'),
b AS (SELECT DISTINCT c_nationkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE')
SELECT 'union' AS op, c_nationkey FROM (SELECT c_nationkey FROM a UNION SELECT c_nationkey FROM b)
UNION ALL
SELECT 'intersect', c_nationkey FROM (SELECT c_nationkey FROM a INTERSECT SELECT c_nationkey FROM b)
UNION ALL
SELECT 'except', c_nationkey FROM (SELECT c_nationkey FROM a EXCEPT SELECT c_nationkey FROM b)
"""


# --- semi / anti joins ----------------------------------------------------


def customer_order_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per market segment: customers with >= 1 order (LEFT SEMI) vs. none
    (LEFT ANTI), as one relation (c_mktsegment, with_orders, without_orders).

    Semi/anti are the scale-correct existence tests: the probe side is never
    duplicated by match multiplicity (a plain join + distinct re-expands the
    fact table first), and only the join key crosses the shuffle — Catalyst
    plans both from the same orders scan with the aggregate pushed below.
    """
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    ords = load_table(spark, sf_dir, "orders").select("o_custkey")
    on = cust["c_custkey"] == ords["o_custkey"]
    semi = (
        cust.join(ords, on, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("with_orders"))
    )
    anti = (
        cust.join(ords, on, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("without_orders"))
    )
    return (
        semi.join(anti, "c_mktsegment", "full_outer")
        .select(
            "c_mktsegment",
            F.coalesce("with_orders", F.lit(0)).alias("with_orders"),
            F.coalesce("without_orders", F.lit(0)).alias("without_orders"),
        )
    )


SEMI_ANTI_ORACLE = """
SELECT c_mktsegment,
       count(*) FILTER (WHERE EXISTS (
           SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS with_orders,
       count(*) FILTER (WHERE NOT EXISTS (
           SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS without_orders
FROM customer c
GROUP BY c_mktsegment
"""


# --- GROUPING SETS (arbitrary set list, not the rollup/cube lattice) ------


def events_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS ((event_type), (day)): two independent aggregation
    grains in ONE scan + one shuffle — the general form that rollup/cube
    specialize. At 100 TB this halves input passes vs. two separate
    groupBys; Spark plans a single Expand + hash aggregate."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type"),
        F.date_format(F.col("ts"), "yyyy-MM-dd").alias("day"),
        F.col("value"),
    )
    return (
        ev.groupingSets([["event_type"], ["day"]], "event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n"),
            FP.sum_micro("value").alias("v_u"),
        )
        .select("event_type", "day", "n", FP.round_micro("v_u").alias("sum_value"))
    )


EVENTS_GROUPING_SETS_ORACLE = f"""
WITH g AS (
    SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
           count(*) AS n, {FP.sum_micro_sql('"value"')} AS v_u
    FROM events
    GROUP BY GROUPING SETS ((event_type), (strftime(ts, '%Y-%m-%d')))
)
SELECT event_type, day, n, {FP.round_micro_sql("v_u")} AS sum_value FROM g
"""


# --- stratified (per-class) deterministic sampling ------------------------

STRATA_PCT = {"purchase": 100, "error": 50, "signup": 25, "view": 10, "click": 10}


def events_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type sampling at different rates (rare classes kept whole,
    common classes downsampled) — the class-rebalancing primitive of a
    training-data pipeline. Keep iff hash(event_id) mod 100 < pct[type]:
    a pure function of the key, so the sample is reproducible across
    engines, retries, and partitionings (rand()/sampleBy are not), and the
    filter runs map-side with zero shuffle."""
    ev = load_table(spark, sf_dir, "events")
    pct = F.create_map(
        *[F.lit(x) for kv in STRATA_PCT.items() for x in kv]
    )[F.col("event_type")]
    h = md5_long(F.col("event_id").cast("string")) % 100
    return ev.filter(h < pct).select("event_id", "user_id", "event_type", "value")


_STRATA_CASE = " ".join(
    f"WHEN '{k}' THEN {v}" for k, v in STRATA_PCT.items()
)

EVENTS_STRATIFIED_SAMPLE_ORACLE = f"""
SELECT event_id, user_id, event_type, "value"
FROM events
WHERE ({md5_long_sql("CAST(event_id AS VARCHAR)")}) % 100
      < (CASE event_type {_STRATA_CASE} ELSE 0 END)
"""
