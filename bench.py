"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline queries (a subset of the registry worth timing; each is forced with
# a cheap count() action so results never funnel through the driver).
HEADLINE = [
    # Reference-parity pipeline (Exercise 1 + 2).
    "trip_length_histogram",
    "segments_clean_positions",
    "trips_sessionize_window",
    "airport_trips_parity",
    "daily_revenue",
    # Relational breadth.
    "pricing_summary",
    "revenue_by_nation",
    "shipping_priority",
    "top_orders_per_customer",
    "events_cube",
    # Temporal surface.
    "events_tumbling_window",
    "views_before_purchase_range_join",
    "purchase_asof_view",
    # Training-data extensions.
    "text_quality_score",
    "text_token_counts",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "similarity_near_dup_cosine",
    "similarity_topk_bruteforce",
    "similarity_topk_ivf",
    "similarity_topk_pq",
    "similarity_topk_pq_trained",
    "ann_append_serving",
    "similarity_topk_ivfpq_trained",
    "multimodal_real_jpeg_color",
    "events_session_window",
    # Composed training-data pipeline (quality -> dedup -> near-dup -> stats).
    "corpus_clean_stats",
]

# Subtotal split: the ANN+media family was 56% of
# the sf1 total, diluting every regression signal in the other queries.
# Both subtotals print inside the same capped metric line, so drift in
# either is visible in driver records without reading 26 per-query keys.
ANN_MEDIA = {
    q for q in HEADLINE if q.startswith(("similarity_", "multimodal_", "ann_"))
}

# The driver records only the LAST 2000 characters of bench output and
# parses the metric JSON out of that tail, so the metric line is
# hard-capped (asserted below).
MAX_METRIC_LINE = 1800


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0

    from mapreduce_hadoop_spark import registry
    from mapreduce_hadoop_spark.session import get_spark

    spark = get_spark("bench")
    queries = registry.queries()

    # Warm the JVM, codegen, and parquet footers once so per-query numbers
    # measure the plan, not session startup or first-file-listing overhead.
    spark.range(1).count()
    from mapreduce_hadoop_spark.sources.tables import TABLE_NAMES, load_table

    for t in TABLE_NAMES:
        load_table(spark, sf_dir, t).count()

    # Compile warm-up: run each headline query once at the smallest scale
    # factor first. Planning + whole-stage codegen + JIT of a plan shape are
    # one-time costs amortized to zero on a long-lived cluster; timing them
    # per-query at sf0.1 would measure the compiler, not the engine. Data
    # work at sf0.001 is ~1% of the timed run.
    # Any timed dir (sf0.1, a derived sf1, ...) warms at the smallest
    # available sibling scale unless overridden: prefer sf0.001 next to
    # sf_dir, then the driver default, so the warm-up still runs on
    # machines without /root/testdata.
    warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR")
    if warm_dir is None:
        sibling = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
        warm_dir = sibling if os.path.isdir(sibling) else "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        print(f"note: warm-up skipped ({warm_dir} missing)", file=sys.stderr)
    if os.path.isdir(warm_dir) and os.path.abspath(warm_dir) != os.path.abspath(sf_dir):
        # A warm-up failure must not sink the timed run, but it is
        # reported on stderr (stdout carries only the one-line result).
        for name in [*HEADLINE, "pipeline_airport_revenue"]:
            try:
                if name == "pipeline_airport_revenue":
                    _pipeline_airport_revenue(spark, warm_dir)
                else:
                    queries[name](spark, warm_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
            except Exception as e:  # noqa: BLE001 — reported, not fatal
                print(
                    f"warm-up {name} failed: {type(e).__name__}: {e}",
                    file=sys.stderr,
                )

    # Cache honesty: some builders persist an intermediate (LSH shingle
    # hashes, simhash signatures). Left cached, the CacheManager silently
    # substitutes it into LATER queries' plans, flattering their numbers
    # (simhash once benched 7.3s vs 153s standalone). Clearing between
    # queries makes each number reproduce standalone.
    from mapreduce_hadoop_spark.session import unpersist_intermediates

    # Two timed executions per query, report the min. Single-shot numbers
    # on this shared VM swing +-40% run-to-run (measured: 21.8s / 30.4s /
    # 26.0s totals for the identical build); min-of-2 keeps the numbers
    # comparable across rounds. Each execution is still data-cold: the
    # cache is cleared and builder persists released between runs, so only
    # plan/codegen warmth carries over — the same one-time cost the
    # sf0.001 warm-up loop already amortizes deliberately.
    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = queries[name]
        best = float("inf")
        for _ in range(2):
            spark.catalog.clearCache()
            unpersist_intermediates()
            t0 = time.time()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        timings[name] = round(best, 3)

    # The reference's Exercise-2 lifecycle as ONE bench line: cleanse ->
    # sessionize -> airport filter computed once and CACHED, then all three
    # reference outputs (airport trips, daily revenue, grand total)
    # materialized off the shared DAG — the direct engine analogue of the
    # reference's 230 s EP2+EP3 number (src/AirportTripsRevenue.java: job 1
    # + job 2 + driver total), minus the two HDFS round-trips between them.
    best = float("inf")
    for _ in range(2):
        spark.catalog.clearCache()
        t0 = time.time()
        _pipeline_airport_revenue(spark, sf_dir)
        best = min(best, time.time() - t0)
    timings["pipeline_airport_revenue"] = round(best, 3)

    total = round(sum(timings.values()), 3)
    stream = _stream_timeout_bench(spark, sf_dir)
    calibration = _calibration_bench(spark)
    calibration_shuffle = _calibration_shuffle_bench(spark)

    payload = {
        "metric": "headline_queries_total",
        "value": total,
        # Fixed engine-independent workload (pure spark.range -> hash ->
        # shuffle -> agg; touches no repo operator and no data file), so
        # BENCH files self-normalize across VM-drift days: if this key
        # moves between rounds, the SHARED VM moved — divide it out
        # before reading per-query deltas.
        "calibration_sec": calibration,
        "calibration_shuffle_sec": calibration_shuffle,
        # The normalization APPLIED: the total rescaled to the reference
        # machine speed (CALIBRATION_REF), so committed BENCH files
        # compare directly without reader-side arithmetic. Same-tree sf1
        # runs have scattered -18% in twenty minutes; this key is what
        # makes that visible in the artifact itself.
        "value_calibrated": round(total * CALIBRATION_REF / calibration, 3),
        "unit": "sec",
        "reference_relational_sec": round(
            sum(t for q, t in timings.items() if q not in ANN_MEDIA), 3
        ),
        "ann_media_sec": round(
            sum(t for q, t in timings.items() if q in ANN_MEDIA), 3
        ),
        "queries": timings,
        "sf": sf,
        "stream": stream,
    }
    line = json.dumps(payload)
    assert len(line) <= MAX_METRIC_LINE, len(line)
    print(line)


# The calibration anchor: the calibration_sec of the sf0.1 run in
# 48705ef:BENCH_r14.json. value_calibrated = value * CALIBRATION_REF /
# calibration_sec expresses every total in that machine's seconds, so
# cross-round deltas read code, not VM.
CALIBRATION_REF = 1.911


def _calibration_bench(spark) -> float:
    """Deterministic CPU + shuffle probe, min-of-2: 5x10^9 xxhash64 rows
    summed (whole-stage codegen CPU) plus a 5x10^7-row groupBy on 1024
    keys (one real exchange). No repo operator, no data file — the
    number moves only when the MACHINE does. Sized to ~2 s at local[32]
    so a 10% VM drift reads well above the timer noise floor."""
    from pyspark.sql import functions as F

    best = float("inf")
    for _ in range(2):
        t0 = time.time()
        # % 1e6 keeps the ANSI-mode sum far from long overflow.
        spark.range(5_000_000_000).select(
            F.sum(F.xxhash64("id") % 1_000_000).alias("s")
        ).collect()
        spark.range(50_000_000).groupBy(
            (F.col("id") % 1024).alias("k")
        ).count().select(F.sum("count")).collect()
        best = min(best, time.time() - t0)
    return round(best, 3)


def _calibration_shuffle_bench(spark) -> float:
    """Shuffle-bound twin of _calibration_bench (min-of-2): 2x10^7 rows
    carrying a 48-byte deterministic payload through ONE full exchange (hash
    repartition), then a post-exchange fold. Exchange serialization +
    transfer dominates; codegen CPU is negligible. The two probes bound the
    machine band's two axes — calibration workloads scale differently with
    machine state than query workloads, so a cross-round reader compares
    BOTH ratios: if they disagree, the drift is state-shaped and per-query
    deltas need a same-day two-tree control; if they agree, dividing either
    out is sound."""
    from pyspark.sql import functions as F

    best = float("inf")
    for _ in range(2):
        t0 = time.time()
        spark.range(20_000_000).select(
            "id", F.lpad(F.col("id").cast("string"), 48, "x").alias("p")
        ).repartition(64, F.col("id") % 9973).select(
            F.sum(F.length("p")).alias("s")
        ).collect()
        best = min(best, time.time() - t0)
    return round(best, 3)


def _pipeline_airport_revenue(spark, sf_dir: str) -> None:
    """One fused run of the reference pipeline: the sessionized airport
    trips persist once; the trips relation, the daily-revenue rollup, and
    the grand total all materialize off that single cached DAG (the
    reference re-read job 1's HDFS output for job 2 and the output FILE
    for the driver total — here the reuse is a cache hit, not a
    filesystem round-trip)."""
    from mapreduce_hadoop_spark.operators import revenue, sessionize

    trips = sessionize.airport_trips_query(spark, sf_dir).persist()
    try:
        trips.write.format("noop").mode("overwrite").save()
        revenue.daily_revenue(trips).write.format("noop").mode("overwrite").save()
        revenue.total_revenue(trips).write.format("noop").mode("overwrite").save()
    finally:
        trips.unpersist()


def _stream_timeout_bench(spark, sf_dir: str) -> dict:
    """Measure the event-time-timeout stream (applyInPandasWithState) at
    sf_dir: wall time, micro-batch count, and state-store growth/eviction
    from StateOperatorProgress — so bounded state is measured per round,
    not asserted once in a unit test.

    ``events.parquet`` ships as ONE file per scale dir, which would give a
    single micro-batch (no watermark movement, no timeout eviction). The
    bench stages the benchmark's time-ordered split (``stream_split`` from
    perfbench/inputs.py, 8 files, mtime-ordered so the file stream replays
    in event-time order) under the repo-local ``.stream_stage/``
    (gitignored) and streams THAT with maxFilesPerTrigger=1: 8 batches,
    watermark advancing per batch, timeouts firing mid-stream exactly as
    on a live ingest.
    """
    import shutil

    from mapreduce_hadoop_spark.streaming.trips import airport_trips_stream_timeout
    from perfbench.inputs import stream_split

    n_files = 8
    repo = os.path.dirname(os.path.abspath(__file__))
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    stage = os.path.join(repo, ".stream_stage", tag)
    try:
        src = os.path.join(sf_dir, "events.parquet")
        marker = os.path.join(stage, "_staged_mtime")
        src_mtime = str(os.path.getmtime(src))
        if not (
            os.path.isfile(marker) and open(marker).read() == src_mtime
        ):
            shutil.rmtree(stage, ignore_errors=True)
            stream_split(sf_dir, stage, n_files)
            with open(marker, "w") as f:
                f.write(src_mtime)

        # Min-of-2 like every batch number (the single-shot stream timing
        # swung +-34% on flat sf1 twins — VM noise, not code). Each run
        # replays the full staged file sequence from scratch. Per-run (sec,
        # finished, progress) tracking: the timing min is taken over
        # FINISHED runs only and the batch/state counts come from the same
        # run that produced it — a run-2 timeout can no longer discard a
        # valid run-1 measurement or mix counts across runs.
        runs: "list[tuple[float, list]]" = []
        for _ in range(2):
            t0 = time.time()
            q = (
                airport_trips_stream_timeout(spark, stage, max_files_per_trigger=1)
                .writeStream.format("noop")
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            try:
                finished = q.awaitTermination(600)
                progress = [json.loads(p.json) for p in q.recentProgress]
            finally:
                q.stop()
            if finished:
                runs.append((round(time.time() - t0, 3), progress))
        if not runs:
            return {"airport_trips_timeout_sec": -1.0, "batches": 0,
                    "state_rows_peak": 0, "state_rows_removed": 0}
        sec, progress = min(runs, key=lambda r: r[0])
        ops = [so for p in progress for so in p.get("stateOperators", [])]
        return {
            "airport_trips_timeout_sec": sec,
            "batches": len(progress),
            "state_rows_peak": max((so.get("numRowsTotal", 0) for so in ops), default=0),
            "state_rows_removed": sum(so.get("numRowsRemoved", 0) for so in ops),
        }
    except Exception as e:  # noqa: BLE001 — reported, never kills the headline
        print(f"stream probe failed: {type(e).__name__}: {e}", file=sys.stderr)
        return {"airport_trips_timeout_sec": -1.0, "err": type(e).__name__}


if __name__ == "__main__":
    main()
