"""Epoch-conversion unit fixtures (O13, `AirportTripsRevenue.java:106-126`).

The epoch query retired from the registry in round 11 (size policy — its slot
went to `similarity_topk_pq_trained`); these fixtures are the surviving
pin for the conversion semantics the sessionize family consumes every
round: UTC string parse, the literal-"NULL" -> 0.0 sentinel, sub-second
timestamp precision, and unparseable-input behavior.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from mapreduce_hadoop_spark.functions.timefns import str_to_epoch, ts_to_epoch


def test_str_to_epoch_fixtures(spark):
    rows = spark.createDataFrame(
        [
            ("1970-01-01 00:00:00",),
            ("2013-01-10 12:30:45",),
            ("NULL",),  # reference sentinel -> 0.0, not SQL NULL
            (None,),  # SQL NULL propagates
        ],
        "s string",
    )
    got = [r["e"] for r in rows.select(str_to_epoch("s").alias("e")).collect()]
    # 2013-01-10 12:30:45 UTC = 1357821045 (fixed independently of Spark).
    assert got[0] == 0.0
    assert got[1] == 1357821045.0
    assert got[2] == 0.0, "literal 'NULL' string must map to 0.0"
    assert got[3] is None


def test_str_to_epoch_unparseable_throws(spark):
    """The reference's LocalDateTime.parse throws (uncaught) on malformed
    input (`AirportTripsRevenue.java:123`); under Spark's ANSI mode
    to_timestamp matches that contract rather than nulling silently."""
    import pytest
    from pyspark.errors.exceptions.captured import DateTimeException

    df = spark.createDataFrame([("not a time",)], "s string").select(
        str_to_epoch("s").alias("e")
    )
    with pytest.raises(DateTimeException):
        df.collect()


def test_ts_to_epoch_subsecond(spark):
    df = spark.sql(
        "SELECT timestamp'2013-01-10 12:30:45.25' AS ts"
    ).select(ts_to_epoch("ts").alias("e"))
    assert df.collect()[0]["e"] == 1357821045.25


def test_epoch_roundtrip_matches_date_format(spark):
    """The retired epoch query's construction: format a timestamp, parse it
    back — must land on the second-truncated epoch."""
    df = spark.sql("SELECT timestamp'2001-02-03 04:05:06.789' AS ts").select(
        ts_to_epoch("ts").alias("micro"),
        str_to_epoch(F.date_format("ts", "yyyy-MM-dd HH:mm:ss")).alias("parsed"),
    )
    row = df.collect()[0]
    assert row["micro"] == 981173106.789
    assert row["parsed"] == 981173106.0
