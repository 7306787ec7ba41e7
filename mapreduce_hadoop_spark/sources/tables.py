"""Parquet table catalog for the driver's synthetic testdata (TESTDATA.md).

Parquet scans give the engine predicate pushdown + column pruning for free —
`.explain` on any query here should show PushedFilters / ReadSchema narrowing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def ensure_confs(spark: SparkSession) -> None:
    """Runtime confs the engine needs even on externally created sessions
    (the driver passes its own SparkSession to entry()): events.ts is
    TIMESTAMP(NANOS) parquet, which Spark only reads via this runtime-settable
    legacy conf, and the engine's timestamp arithmetic assumes a UTC session."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        # timestamp[us] parquet without the UTC flag must read as session-tz
        # TIMESTAMP, not TIMESTAMP_NTZ — NTZ has no numeric cast and the
        # engine's epoch arithmetic (and the DuckDB oracle) treat naive
        # timestamps as UTC instants.
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    except Exception:
        pass


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    df = _denaive_timestamps(df)
    if name == "events":
        df = normalize_events(df)
    return df


def _denaive_timestamps(df: DataFrame) -> DataFrame:
    """Cast any TIMESTAMP_NTZ column to session-tz TIMESTAMP.

    Belt-and-braces for sessions where ensure_confs could not take effect
    (conf locked, or the scan was planned before we ran): with the session
    timezone pinned to UTC the cast maps each naive wall-clock to the same
    instant the oracle assumes.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampNTZType

    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def normalize_events(df: DataFrame) -> DataFrame:
    """Restore TimestampType on events.ts read as nanos-long.

    events.ts is parquet TIMESTAMP(NANOS): with
    spark.sql.legacy.parquet.nanosAsLong it arrives as bigint nanoseconds.
    Truncate to microseconds (exactly what DuckDB does on read) using integer
    division — nanos exceed 2^53, so a double round-trip would lose
    sub-microsecond bits.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    schema = dict(zip(df.schema.names, df.schema.fields))
    if isinstance(schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


# Above this many files, skip per-file footer reads in the scan-width
# estimate: so many files always split at least cores-wide (each file is
# at least one split region and carries >= 1 row group).
_FOOTER_READ_CAP = 256


def _conf_bytes(spark: SparkSession, key: str, default: int) -> int:
    """Read a size conf ('128MB' / '134217728b' / plain int) as bytes."""
    try:
        raw = str(spark.conf.get(key, str(default))).strip().lower()
    except Exception:
        return default
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "b": 1}
    mult = 1
    for suffix in ("kb", "mb", "gb", "k", "m", "g", "b"):
        if raw.endswith(suffix):
            mult = units[suffix[0]]
            raw = raw[: -len(suffix)]
            break
    try:
        return int(float(raw) * mult)
    except ValueError:
        return default


def parquet_scan_width(spark: SparkSession, path: str) -> "int | None":
    """Estimated NON-EMPTY scan partition count for a parquet path,
    from file metadata alone (no Spark job, no plan materialization) —
    or ``None`` when the path is not listable from this process (remote
    scheme such as ``s3a://``/``hdfs://``, or an empty/missing local
    listing), in which case the caller must fall back to a width source
    that CAN see the files (``widen_to_cores`` uses
    ``df.rdd.getNumPartitions()``). Returning a fake "narrow" answer
    here was the round-9 latent scale-killer: on a remote filesystem
    every widen consumer would have round-robin-exchanged its full
    input.

    Two bounds, both needed:
    - byte-range splits, via Spark's own FilePartition arithmetic
      (maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
      total/minPartitionNum)); small files pack with openCost padding);
    - ROW GROUPS: a parquet row group is read entirely by the one split
      containing its midpoint, so non-empty splits never exceed total
      row groups — the round-7 widen used `.rdd.getNumPartitions()`,
      which reports byte splits and OVERSTATES width on few-row-group
      files (measured: a 57 MB single-row-group file reports 14 splits,
      13 of them empty).

    Footer reads are bounded: only taken when byte splits alone look
    wide (est >= cores) and there are < _FOOTER_READ_CAP files; past the
    cap the scan is wide by construction. The 100 TB case (thousands of
    multi-row-group files) therefore costs one file listing, no footers.
    """
    import glob as _glob
    import math
    import os
    import re

    m = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*):(?://)?(.*)$", path)
    if m:
        if m.group(1).lower() != "file":
            return None  # remote scheme: not listable from the driver's OS
        path = m.group(2) or "/"
    if os.path.isdir(path):
        files = sorted(
            f
            for f in _glob.glob(os.path.join(path, "**", "*"), recursive=True)
            if os.path.isfile(f) and not os.path.basename(f).startswith(("_", "."))
        )
    else:
        files = [path] if os.path.isfile(path) else []
    if not files:
        return None  # empty/missing listing: width unknown, caller decides
    cores = spark.sparkContext.defaultParallelism
    maxpb = _conf_bytes(spark, "spark.sql.files.maxPartitionBytes", 128 << 20)
    opencost = _conf_bytes(spark, "spark.sql.files.openCostInBytes", 4 << 20)
    try:
        minpn = int(str(spark.conf.get("spark.sql.files.minPartitionNum", str(cores))))
    except Exception:
        minpn = cores
    data_bytes = sum(os.path.getsize(f) for f in files)
    # Spark's FilePartition arithmetic pads bytesPerCore with openCost per
    # file too (totalBytes = data + openCost * numFiles), not just the
    # packing step below — omitting it understated maxSplitBytes on
    # many-small-file layouts.
    total_bytes = data_bytes + opencost * len(files)
    max_split = min(maxpb, max(opencost, total_bytes // max(1, minpn) + 1))
    est_splits = max(1, math.ceil(total_bytes / max_split))
    if est_splits < cores:
        return est_splits
    if len(files) >= _FOOTER_READ_CAP:
        return est_splits
    import pyarrow.parquet as pq

    row_groups = 0
    for f in files:
        try:
            row_groups += pq.ParquetFile(f).metadata.num_row_groups
        except Exception:
            row_groups += 1  # unreadable footer: count the file itself
    return min(est_splits, max(1, row_groups))


def widen_to_cores(df: DataFrame, path: "str | None" = None) -> DataFrame:
    """Round-robin repartition to the session parallelism — ONLY when the
    scan is narrower than the cluster.

    Heavy per-row map work (hundreds of us/doc: shingle folds, codec
    stages) is throughput-bound by scan splits, and a single parquet file
    yields ~size/128MB of them: at sf1 the whole Gopher pipeline ran on 2
    of 16 threads (measured 10.3 s -> 1.3 s with this exchange). The guard
    makes it scale-safe: when the scan already has >= cores partitions —
    the 100 TB case, where splits outnumber executors a thousandfold —
    this is a NO-OP, because round-robin-shuffling a wide scan's full
    payload would be pure waste.

    Scan-TIME widening (spark.sql.files.minPartitionNum) cannot replace
    the exchange here: byte-range splits of a single-ROW-GROUP file are
    empty except the one holding the row-group midpoint (measured: 14
    splits, 1 non-empty), so only a shuffle actually spreads the rows.
    With ``path`` given, the width check reads parquet footer metadata
    (``parquet_scan_width``) instead of materializing the plan via
    ``.rdd`` — cheaper per query, and row-group-exact where `.rdd`
    overstates width.
    """
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    width = parquet_scan_width(spark, path) if path is not None else None
    if width is None:
        # Path absent, remote, or not listable here: ask the datasource
        # itself (plan-level split count; no job runs). Never assume
        # narrow — that would repartition the full table at 100 TB.
        width = df.rdd.getNumPartitions()
    if width >= cores:
        return df
    return df.repartition(cores)


def load_table_widened(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """load_table + widen_to_cores with the metadata-driven width check."""
    return widen_to_cores(
        load_table(spark, sf_dir, name), path=f"{sf_dir}/{name}.parquet"
    )
