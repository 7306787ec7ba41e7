"""AQE skew-join handling fires on a hot-key sort-merge join."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_aqe_skew_join_triggers(spark):
    """AQE's skew-join handling must actually fire on a hot-key sort-merge
    join — this is the runtime mitigation session.py turns on in place of
    the reference's manual reducer tuning, so we assert the mechanism, not
    just the config. Thresholds are lowered to make a local-scale hot
    partition qualify; production scale hits the defaults the same way."""
    tuned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force sort-merge
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "100k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "50k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    saved = {k: spark.conf.get(k, None) for k in tuned}
    for k, v in tuned.items():
        spark.conf.set(k, v)
    try:
        pad = F.concat_ws("", F.array_repeat(F.lit("x"), 64))
        # Half the fact rows share one hot key; the rest spread over 1000.
        fact = spark.range(200_000).select(
            F.when(F.col("id") % 2 == 0, F.lit(0))
            .otherwise(F.pmod(F.hash("id"), F.lit(1000)))
            .alias("k"),
            pad.alias("pad"),
        )
        dim = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        joined = fact.join(dim, "k").groupBy("k").agg(F.count(F.lit(1)).alias("n"))
        # collect() on THIS DataFrame finalizes its own AQE plan (count()
        # would execute a separate derived plan and leave this one unrun).
        assert len(joined.collect()) > 0
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
