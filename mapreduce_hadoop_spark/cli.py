"""Command-line entry points mirroring the reference's job contract.

The reference is driven as (``/root/reference/command:14-40``):

    spark-submit Exercise1.jar <trips-in> <out>            # histogram
    hadoop jar Exercise2.jar <segments-in> <out> [reducers] [mapperMB] [reducerMB]

Equivalent here:

    spark-submit -m mapreduce_hadoop_spark.cli histogram <trips-in> <out>
    spark-submit -m mapreduce_hadoop_spark.cli airport-revenue <segments-in> <out>
    spark-submit -m mapreduce_hadoop_spark.cli corpus-clean <tables-dir> <out>
    spark-submit -m mapreduce_hadoop_spark.cli pii-scrub <tables-dir> <out>
    spark-submit -m mapreduce_hadoop_spark.cli train-split <tables-dir> <out>
    spark-submit -m mapreduce_hadoop_spark.cli quality-filter <tables-dir> <out>

``histogram`` reads trip lines and writes `bin \\t count` (sorted, like the
MR shuffle did). ``airport-revenue`` reads raw segment CSV, reconstructs
airport trips (exact reference semantics — the parity state machine), writes
the trip lines under <out>/trips, the daily TSV under <out>/daily, and
prints the grand total like ``AirportTripsRevenue.java:640``. The manual
tuning knobs (reducer count, container memory — ``:505-560``) have no
equivalent because AQE owns those decisions.
"""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

from mapreduce_hadoop_spark.operators.histogram import trip_length_histogram
from mapreduce_hadoop_spark.operators.revenue import daily_revenue, total_revenue
from mapreduce_hadoop_spark.operators.segments import clean_positions
from mapreduce_hadoop_spark.operators.sessionize import sessionize_parity_sql
from mapreduce_hadoop_spark.session import (
    get_spark,
    persisted,
    unpersist_intermediates,
)
from mapreduce_hadoop_spark.sources.segments_csv import read_segments
from mapreduce_hadoop_spark.sources.trips_text import (
    read_trips,
    write_trip_lines,
    write_tsv,
)


def run_histogram(inp: str, out: str) -> None:
    spark = get_spark("trip-length-histogram")
    trips = read_trips(spark, inp)
    hist = trip_length_histogram(trips)
    write_tsv(hist, out)


def run_airport_revenue(inp: str, out: str) -> None:
    spark = get_spark("airport-trips-revenue")
    segments = read_segments(spark, inp)
    pos = clean_positions(segments).withColumns(
        {
            # The parity kernel orders by (t, event_id); positions from raw
            # files carry no event id — the (taxi, t) pair is unique after
            # dedup, so a zero tiebreak is deterministic.
            "event_id": F.lit(0).cast("long"),
            "event_date": F.to_date(F.timestamp_seconds(F.col("t"))),
        }
    )
    # JVM parity path (bit-identical to the Pandas replay, no Python workers).
    trips = persisted(sessionize_parity_sql(pos))
    write_trip_lines(trips, f"{out}/trips")
    # The reference materializes job-1 output as text with %.2f revenue and
    # job 2 re-parses it (AirportTripsRevenue.java:351-356,422-426); summing
    # the 2-decimal-rounded revenue mirrors that file round-trip exactly,
    # without the HDFS materialization.
    rounded = trips.withColumn("revenue", F.round("revenue", 2))
    daily = daily_revenue(rounded)
    write_tsv(daily, f"{out}/daily")
    total = total_revenue(rounded).first()["total_revenue"]
    unpersist_intermediates()
    print(f"TOTAL AIRPORT TRIPS REVENUE : {total:.2f}")


def run_corpus_clean(inp: str, out: str) -> None:
    """Training-data pipeline as a job: clean the documents table under
    ``inp`` (quality gate -> exact dedup -> MinHash-LSH near-dup removal),
    write the surviving docs to <out>/clean_docs (parquet) and the
    per-source stats to <out>/stats (TSV), print the corpus totals. The
    clean relation is built and cached once; the stats aggregate it."""
    from mapreduce_hadoop_spark.operators.corpus import clean_docs, clean_stats

    spark = get_spark("corpus-clean")
    clean = persisted(clean_docs(spark, inp))
    clean.write.mode("overwrite").parquet(f"{out}/clean_docs")
    write_tsv(clean_stats(clean), f"{out}/stats")
    kept = clean.count()
    toks = clean.agg(F.sum("n_tokens").alias("t")).first()["t"]
    unpersist_intermediates()
    print(f"CLEAN DOCS : {kept}  TOKENS : {toks}")


def run_pii_scrub(inp: str, out: str) -> None:
    """Redact emails/phones from the documents table under ``inp``; write
    the scrubbed corpus to <out>/scrubbed_docs (parquet, map-only — no
    shuffle at any corpus size), print the redaction totals."""
    from mapreduce_hadoop_spark.operators.textops import pii_scrub

    spark = get_spark("pii-scrub")
    scrubbed = persisted(pii_scrub(spark, inp))
    scrubbed.write.mode("overwrite").parquet(f"{out}/scrubbed_docs")
    tot = scrubbed.agg(
        F.coalesce(F.sum("n_emails"), F.lit(0)).alias("e"),
        F.coalesce(F.sum("n_phones"), F.lit(0)).alias("p"),
    ).first()
    unpersist_intermediates()
    print(f"EMAILS REDACTED : {tot['e']}  PHONES REDACTED : {tot['p']}")


def run_train_split(inp: str, out: str) -> None:
    """Materialize the deterministic 90/5/5 train/val/test split of the
    documents table under ``inp``: doc_id manifests to
    <out>/split=<name>/ (parquet, partitioned by split so a trainer reads
    its split via partition pruning alone) and the per-(source, split)
    counts to <out>/counts (TSV). Assignment is a pure function of
    md5(doc_id) — re-running on a grown corpus never moves an existing
    doc across splits."""
    from mapreduce_hadoop_spark.operators.corpus import corpus_train_split, split_column
    from mapreduce_hadoop_spark.sources.tables import load_table

    spark = get_spark("train-split")
    docs = load_table(spark, inp, "documents").select(
        "doc_id", "source", split_column().alias("split")
    )
    docs.write.mode("overwrite").partitionBy("split").parquet(f"{out}/manifest")
    counts = corpus_train_split(spark, inp).orderBy("source", "split")
    write_tsv(counts, f"{out}/counts")
    by_split = {
        r["split"]: r["n"]
        for r in docs.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    print(
        "SPLIT train={} val={} test={}".format(
            by_split.get("train", 0), by_split.get("val", 0), by_split.get("test", 0)
        )
    )


def run_quality_filter(inp: str, out: str) -> None:
    """The standard corpus-cleaning pass: Gopher rule gate + cross-document
    span dedup in one DAG. Writes the kept corpus to <out>/kept_docs
    (parquet), the per-document audit (all rule booleans + dup_frac +
    drop_reason) to <out>/audit, and prints the drop breakdown. A document
    is kept iff every Gopher rule passes AND its cross-corpus duplicate-
    span fraction is <= SPAN_DUP_MAX; drop_reason is the FIRST failing
    rule in the published order, so the breakdown is a partition (sums to
    the corpus size)."""
    from mapreduce_hadoop_spark.operators.dedup import span_dedup_stats
    from mapreduce_hadoop_spark.operators.textops import gopher_rules
    from mapreduce_hadoop_spark.sources.tables import load_table

    SPAN_DUP_MAX = 0.5

    spark = get_spark("quality-filter")
    g = gopher_rules(spark, inp)
    sp = span_dedup_stats(spark, inp).select("doc_id", "dup_frac")
    audit = g.join(sp, "doc_id").select(
        "*",
        F.when(~F.col("r_word_count"), F.lit("word_count"))
        .when(~F.col("r_mean_word_len"), F.lit("mean_word_len"))
        .when(~F.col("r_alpha"), F.lit("alpha"))
        .when(~F.col("r_stopwords"), F.lit("stopwords"))
        .when(~F.col("r_repetition"), F.lit("repetition"))
        .when(F.col("dup_frac") > F.lit(SPAN_DUP_MAX), F.lit("span_dup"))
        .otherwise(F.lit("kept"))
        .alias("drop_reason"),
    )
    audit = persisted(audit)
    audit.write.mode("overwrite").parquet(f"{out}/audit")
    docs = load_table(spark, inp, "documents")
    kept = docs.join(
        audit.filter(F.col("drop_reason") == "kept").select("doc_id"), "doc_id", "semi"
    )
    kept.write.mode("overwrite").parquet(f"{out}/kept_docs")
    breakdown = {
        r["drop_reason"]: r["n"]
        for r in audit.groupBy("drop_reason")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    unpersist_intermediates()
    total = sum(breakdown.values())
    kept_n = breakdown.get("kept", 0)
    parts = " ".join(
        f"{k}={v}" for k, v in sorted(breakdown.items()) if k != "kept"
    )
    print(f"KEPT : {kept_n} / {total}  DROPPED : {parts}")


def main(argv: list[str]) -> int:
    if len(argv) >= 3 and argv[0] == "histogram":
        run_histogram(argv[1], argv[2])
        return 0
    if len(argv) >= 3 and argv[0] == "airport-revenue":
        run_airport_revenue(argv[1], argv[2])
        return 0
    if len(argv) >= 3 and argv[0] == "corpus-clean":
        run_corpus_clean(argv[1], argv[2])
        return 0
    if len(argv) >= 3 and argv[0] == "pii-scrub":
        run_pii_scrub(argv[1], argv[2])
        return 0
    if len(argv) >= 3 and argv[0] == "train-split":
        run_train_split(argv[1], argv[2])
        return 0
    if len(argv) >= 3 and argv[0] == "quality-filter":
        run_quality_filter(argv[1], argv[2])
        return 0
    print(__doc__)
    return 2


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
