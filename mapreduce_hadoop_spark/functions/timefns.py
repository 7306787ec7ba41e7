"""Timestamp functions.

The reference parses ``yyyy-MM-dd HH:mm:ss`` strings as UTC and represents
instants as double unix-epoch seconds, mapping the literal ``"NULL"`` to 0.0
(``src/AirportTripsRevenue.java:106-126``). The engine keeps TimestampType
internally and converts at the edges.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def str_to_epoch(s: Column | str) -> Column:
    """UTC string timestamp -> double epoch seconds; literal 'NULL' -> 0.0.

    Mirrors ``strTimeToSystemTime`` (``AirportTripsRevenue.java:106-126``).
    Requires spark.sql.session.timeZone=UTC (pinned in session.py).
    """
    c = F.col(s) if isinstance(s, str) else s
    return F.when(c == F.lit("NULL"), F.lit(0.0)).otherwise(
        F.unix_timestamp(F.to_timestamp(c, "yyyy-MM-dd HH:mm:ss")).cast("double")
    )
