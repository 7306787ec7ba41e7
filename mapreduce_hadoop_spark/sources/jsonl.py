"""JSON-lines source/sink with explicit schemas.

The reference's only formats are positional text lines (SURVEY.md §1.1);
a production engine also ingests JSONL. Stance (SURVEY.md §1.3): schemas
are always explicit — ``spark.read.json`` without a schema runs a whole
extra inference pass over the data and silently widens types; at 100 TB
that is a second full scan. ``mode=PERMISSIVE`` with a corrupt-record
column mirrors the reference's drop-malformed semantics but keeps the bad
rows observable instead of silently discarding them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from mapreduce_hadoop_spark.session import persisted

CORRUPT_COL = "_corrupt_record"


def read_jsonl(
    spark: SparkSession, path: str, schema: StructType | str
) -> DataFrame:
    """Schema-explicit JSONL read; malformed lines land in _corrupt_record."""
    if isinstance(schema, str):
        from pyspark.sql.types import _parse_datatype_string

        schema = _parse_datatype_string(schema)
    schema = StructType(list(schema.fields)).add(CORRUPT_COL, "string")
    return (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def valid_rows(df: DataFrame) -> DataFrame:
    return df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)


def corrupt_rows(df: DataFrame) -> DataFrame:
    """The observability channel the reference lacked (it silently dropped
    malformed rows, ``AirportTripsRevenue.java:154-157``).

    Spark refuses plans that reference ONLY the corrupt column of a raw
    JSON scan (the parser would never materialize the data columns it
    needs to classify rows); the supported pattern is querying a
    *materialized* cache of the parsed relation, so this caches and
    forces materialization before filtering. The cache is registered
    for ``session.unpersist_intermediates``."""
    df = persisted(df)
    df.count()
    return df.filter(F.col(CORRUPT_COL).isNotNull()).select(CORRUPT_COL)


def write_jsonl(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").json(path)
