"""Exercise 1 — trip-length histogram (SURVEY.md §2.1, operators O1-O8).

Reference: ``src/SparkTripLength.java`` — Mapper computes the plane-projection
distance between trip start/stop, buckets it into 2 km bins with all >=80 km
trips collapsed into a ``>=80`` label, Combiner+Reducer count per bin, output
sorted by bin label.

Spark-first formulation: one select + groupBy().count() + orderBy. The
combiner (map-side partial aggregation, O5) is automatic in Spark's
HashAggregate partial/final split; the bucket math is a built-in expression
(floor/format_string), no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_hadoop_spark import constants as C
from mapreduce_hadoop_spark.functions.geo import spherical_earth_distance
from mapreduce_hadoop_spark.operators import gps


def width_bucket_label(dist: Column) -> Column:
    """Zero-padded even-km bin label with outlier clamp.

    ``bin = int(dist/interval)``; label ``%02d`` of ``bin*interval`` when
    below ``max_dist``, else ``">=80"`` (``SparkTripLength.java:51-61``).
    """
    interval, max_dist = C.HISTOGRAM_BIN_KM, C.HISTOGRAM_MAX_KM
    bin_idx = F.floor(dist / F.lit(float(interval)))
    return F.when(
        bin_idx < F.lit(max_dist // interval),
        F.format_string("%02d", (bin_idx * interval).cast("int")),
    ).otherwise(F.lit(f">={max_dist}"))


def trip_length_histogram(trips: DataFrame) -> DataFrame:
    """Histogram over a DataFrame with start/stop coordinate columns.

    Expects columns start_lat/start_lon/stop_lat/stop_lon; returns
    (bin string, n bigint) ordered by bin.
    """
    dist = spherical_earth_distance("start_lat", "start_lon", "stop_lat", "stop_lon")
    return (
        trips.select(width_bucket_label(dist).alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("bin")
    )


def histogram_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship query: Exercise-1 histogram over the derived trip endpoints."""
    return trip_length_histogram(gps.trip_endpoints(spark, sf_dir))


_DIST = gps.distance_sql("start_lat", "start_lon", "stop_lat", "stop_lon")

ORACLE_SQL = f"""
WITH trips AS ({gps.TRIP_ENDPOINTS_SQL}),
d AS (SELECT {_DIST} AS dist FROM trips)
SELECT
    CASE WHEN floor(dist / 2.0) < 40
         THEN printf('%02d', CAST(floor(dist / 2.0) * 2 AS INT))
         ELSE '>=80' END AS bin,
    count(*) AS n
FROM d
GROUP BY 1
ORDER BY 1
"""
