"""SparkSession factory.

Pins the configuration the engine depends on:

- UTC session timezone — the reference parses all timestamps as UTC
  (``src/AirportTripsRevenue.java:106-126``).
- AQE on (coalescing + skew-join handling) — replaces the reference's manual
  split-size / reducer-count tuning (``src/AirportTripsRevenue.java:525-560``).
- Arrow enabled — every Python-side kernel in this engine is Arrow-batched
  (``applyInPandas`` / pandas UDF), never row-at-a-time.
- Python workers forked from ``pyworker`` instead of ``pyspark.daemon``:
  the stock daemon's workers re-read all of ``pyspark.zip``'s directory
  (once per cached zip finder, 16-18 of them) at the start of every task,
  which cost more than most Python kernels themselves; ``pyworker`` keeps
  an unchanged archive's directory and runs the same daemon. The conf is
  read when the JVM starts, so a session the caller built keeps
  ``pyspark.daemon``.

It also holds the one registry of intermediates that query builders cache
for the life of a query (``persisted`` / ``register_intermediate``);
``unpersist_intermediates`` releases them all.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Small dims (region/nation/...) must broadcast; 64 MB covers every
    # dimension table up to far beyond sf0.1 while leaving fact-fact joins
    # to sort-merge.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # 128 MB splits — same physics as the reference's
    # FileInputFormat.setMinInputSplitSize tuning (AirportTripsRevenue.java:568).
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    # Local-mode driver heap: the 1 GB default cannot hold the broadcast
    # relations + collected results of larger-SF local runs (the JVM is
    # driver AND executors in local mode). Only effective when this factory
    # creates the JVM; a cluster deployment sizes driver/executors itself.
    "spark.driver.memory": "16g",
    # The driver testdata stores events.ts as TIMESTAMP(NANOS), which Spark's
    # parquet reader rejects natively; read as nanos-long, converted to a
    # microsecond timestamp in sources/tables.py (same truncation DuckDB
    # applies on read).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Driver testdata timestamps are parquet timestamp[us] with no timezone
    # flag; Spark 4 infers TIMESTAMP_NTZ for those, which breaks epoch
    # arithmetic (NTZ has no cast to numeric). Read them as session-tz
    # TIMESTAMP (UTC above) — the exact semantics DuckDB's naive timestamps
    # get in the oracle.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.ui.enabled": "false",
    # Python workers skip re-reading unchanged zip archives per task; see
    # the module docstring and pyworker.py.
    "spark.python.daemon.module": "mapreduce_hadoop_spark.pyworker",
}


def get_spark(
    app_name: str = "mapreduce-hadoop-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver contract) so
    tests and bench share one code path; on a real cluster callers pass
    ``master=None`` with ``spark.master`` preset in the environment.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = builder.master(master)
    conf = dict(DEFAULT_CONF)
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Timezone must hold even when we inherit an existing session.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark


# Intermediates a builder caches or locally checkpoints for the life of one
# query. A cache with no matching release leaks executor storage when the
# engine is used as a library, so callers (bench.py and the tools between
# queries, long-lived pipelines after consuming a result) release them via
# ``unpersist_intermediates``.
_PERSISTED: list[DataFrame] = []


def register_intermediate(df: DataFrame) -> DataFrame:
    """Register an already cached or locally checkpointed ``df`` for
    ``unpersist_intermediates``; returns ``df``."""
    _PERSISTED.append(df)
    return df


def persisted(df: DataFrame) -> DataFrame:
    """``df.persist()``, registered for ``unpersist_intermediates``."""
    return register_intermediate(df.persist())


def release(df: DataFrame) -> None:
    """Unpersist ``df``: its cache entry, or the RDD a ``localCheckpoint``
    pinned — that RDD is not in the CacheManager, so ``clearCache`` never
    frees it."""
    df.unpersist()
    plan = df._jdf.queryExecution().analyzed()
    if plan.nodeName() == "LogicalRDD":
        plan.rdd().unpersist(False)


def unpersist_intermediates() -> None:
    """Release every registered intermediate.

    Call it once the results are consumed: a released cache is recomputed
    from its lineage on the next action, but a released local checkpoint
    (``dedup.connected_components``' labels) has no lineage left.
    """
    while _PERSISTED:
        release(_PERSISTED.pop())
