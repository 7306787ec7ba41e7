"""Output checks, run on the first timed pass's outputs after the timing.

- A query with a DuckDB oracle must match it on the same generated files:
  row count, column names, float-vs-other column kinds and the value hash
  of ``tools.check_oracle``. The ANN query ``similarity_topk_ivf`` has an
  oracle, so it is checked this way too.
- The stream's output must hash-equal its batch twin,
  ``airport_trips_timeout``, on the same events.
- The command-line job's daily TSV must equal its batch twin: the same
  segment file through the Python replay of the trip state machine.
- A rows-only query with none of the above must return at least one row.

Each check returns a list of failure strings; an empty list is a pass.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from tools.check_oracle import TABLES, value_hash

class Oracle:
    """DuckDB views over the generated tables."""

    def __init__(self, tables: str):
        from mapreduce_hadoop_spark import registry

        self.sql = registry.oracle_sql()
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")

    def compare(self, name: str, got: pd.DataFrame) -> list[str]:
        want = self.con.execute(self.sql[name]).df()
        if len(got) != len(want):
            return [f"{name}: rows {len(got)} vs oracle {len(want)}"]
        if sorted(got.columns) != sorted(want.columns):
            return [f"{name}: columns {sorted(got.columns)} vs oracle {sorted(want.columns)}"]
        kinds = [
            c for c in got.columns if (got[c].dtype.kind == "f") != (want[c].dtype.kind == "f")
        ]
        if kinds:
            return [f"{name}: float/non-float column kinds differ: {kinds}"]
        if value_hash(got) != value_hash(want):
            return [f"{name}: value hash {value_hash(got)} vs oracle {value_hash(want)}"]
        return []


def check_stream(spark, tables: str, rows: pd.DataFrame) -> list[str]:
    from mapreduce_hadoop_spark import registry

    twin = registry.queries()["airport_trips_timeout"](spark, tables).toPandas()
    if value_hash(rows) != value_hash(twin):
        return [f"stream: {len(rows)} rows, hash {value_hash(rows)} vs batch twin "
                f"{len(twin)} rows, hash {value_hash(twin)}"]
    if twin.empty:
        return ["stream: batch twin emitted no trips, the check proves nothing"]
    return []


def cli_twin_daily(spark, segments: str) -> set:
    """The CLI's daily revenue computed another way: the same segment file,
    cleansed the same way, sessionized by the Python replay instead of the
    JVM fold, then rounded and rolled up as the CLI does."""
    from pyspark.sql import functions as F

    from mapreduce_hadoop_spark.operators.revenue import daily_revenue
    from mapreduce_hadoop_spark.operators.segments import clean_positions
    from mapreduce_hadoop_spark.operators.sessionize import sessionize_parity
    from mapreduce_hadoop_spark.sources.segments_csv import read_segments

    pos = clean_positions(read_segments(spark, segments)).withColumns(
        {
            "event_id": F.lit(0).cast("long"),
            "event_date": F.to_date(F.timestamp_seconds(F.col("t"))),
        }
    )
    trips = sessionize_parity(pos).withColumn("revenue", F.round("revenue", 2))
    return {(r[0], float(r[1])) for r in daily_revenue(trips).collect()}


def check_cli(spark, segments: str, airport: dict, histogram: list) -> list[str]:
    failures = []
    got = set()
    for line in airport["daily"]:
        day, value = line.split("\t")
        got.add((day, float(value)))
    want = cli_twin_daily(spark, segments)
    if got != want:
        failures.append(f"cli daily TSV: {len(got)} days vs twin {len(want)} days, "
                        f"{len(got ^ want)} differ")
    if not airport["trips"]:
        failures.append("cli: no trip lines, the check proves nothing")
    total = sum(int(line.split("\t")[1]) for line in histogram)
    if total != len(airport["trips"]):
        failures.append(f"cli histogram counts {total} trips, trip file has "
                        f"{len(airport['trips'])}")
    return failures


def check_outputs(spark, ctx, outputs: dict) -> dict:
    """Check every collected output; return failures by operation name."""
    oracle = Oracle(ctx.tables)
    failures: dict = {}
    for name, out in outputs.items():
        if out is None:
            continue  # the operation raised; already counted
        if name == "pipeline_airport_revenue":
            found = oracle.compare("daily_revenue", out["daily_revenue"])
            found += oracle.compare("total_revenue", out["total_revenue"])
        elif name == "cli_airport_revenue":
            found = check_cli(spark, ctx.segments, out, outputs.get("cli_histogram") or [])
        elif name == "cli_histogram":
            continue  # checked with the airport job it reads
        elif name == "trips_stream_timeout":
            found = check_stream(spark, ctx.tables, out)
        elif name in oracle.sql:
            found = oracle.compare(name, out)
        elif len(out) == 0:
            found = [f"{name}: rows-only query returned no rows"]
        else:
            found = []
        if found:
            failures[name] = found
    return failures
