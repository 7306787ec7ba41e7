"""The workloads: what each generates, and the operations one pass runs.

A pass is a closed loop with one client: the operations run back to back,
and between two operations the cache is cleared and builder persists are
released, so every operation runs as it would on its own. An operation is a
registry query (builder call, then an action), a command-line job, or one
full replay of a stream.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass
from typing import Callable

import inputs


@dataclass
class Ctx:
    spark: object
    tables: str
    run_dir: str
    tracer: object
    segments: str = ""
    stream_dir: str = ""


@dataclass
class Op:
    name: str
    layer: str
    run: Callable  # (ctx) -> output


def release(spark) -> None:
    """Clear the cache and builder persists between operations."""
    from mapreduce_hadoop_spark.operators import dedup, similarity

    spark.catalog.clearCache()
    dedup.unpersist_intermediates()
    similarity.unpersist_intermediates()


def _planning_s(df) -> float:
    """Analysis + optimization + planning time of the built DataFrame,
    from its own query-execution tracker (traced runs only)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    it = phases.iterator()
    total = 0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return total / 1e3


def registry_op(name: str) -> Op:
    from mapreduce_hadoop_spark import registry

    fn = registry.queries()[name]
    package, module = fn.__module__.split(".")[-2:]
    layer = f"{package}.{module}"

    def run(ctx: Ctx):
        tr = ctx.tracer
        with tr.span("build", "operators.build"):
            df = fn(ctx.spark, ctx.tables)
        if tr.enabled:
            with tr.span("plan", "operators.plan") as rec:
                rec["planning_s"] = _planning_s(df)
        with tr.span("action", "operators.action"):
            return df.toPandas()

    return Op(name, layer, run)


def pipeline_op() -> Op:
    """The reference's chained Exercise-2 lifecycle: airport trips computed
    and cached once, then trips, daily revenue and the grand total all read
    that one cached result (the same job ``bench.py`` times)."""

    def run(ctx: Ctx):
        from mapreduce_hadoop_spark.operators import revenue, sessionize

        trips = sessionize.airport_trips_query(ctx.spark, ctx.tables).persist()
        try:
            return {
                "trips": trips.count(),
                "daily_revenue": revenue.daily_revenue(trips).toPandas(),
                "total_revenue": revenue.total_revenue(trips).toPandas(),
            }
        finally:
            trips.unpersist()

    return Op("pipeline_airport_revenue", "operators.revenue", run)


def _read_parts(path: str) -> list[str]:
    lines = []
    for part in sorted(os.listdir(path)):
        if part.startswith("part-"):
            with open(os.path.join(path, part)) as f:
                lines.extend(f.read().splitlines())
    return lines


def cli_airport_op() -> Op:
    def run(ctx: Ctx):
        from mapreduce_hadoop_spark import cli

        out = os.path.join(ctx.run_dir, "cli")
        # The job prints its grand total; the benchmark's stdout carries only
        # its own report.
        with ctx.tracer.span("airport_revenue", "cli"), contextlib.redirect_stdout(io.StringIO()):
            cli.run_airport_revenue(ctx.segments, out)
        return {"trips": _read_parts(f"{out}/trips"), "daily": _read_parts(f"{out}/daily")}

    return Op("cli_airport_revenue", "cli", run)


def cli_histogram_op() -> Op:
    def run(ctx: Ctx):
        from mapreduce_hadoop_spark import cli

        out = os.path.join(ctx.run_dir, "cli")
        with ctx.tracer.span("histogram", "cli"):
            cli.run_histogram(f"{out}/trips", f"{out}/histogram")
        return _read_parts(f"{out}/histogram")

    return Op("cli_histogram", "cli", run)


def stream_op() -> Op:
    """One replay of the time-ordered file split through the event-time-
    timeout stream, one file per trigger, until every file is consumed."""
    state = {"n": 0}

    def run(ctx: Ctx):
        from mapreduce_hadoop_spark.streaming.trips import airport_trips_stream_timeout

        state["n"] += 1
        ckpt = os.path.join(ctx.run_dir, "checkpoints", str(state["n"]))
        name = f"perfbench_stream_{state['n']}"
        writer = (
            airport_trips_stream_timeout(ctx.spark, ctx.stream_dir, max_files_per_trigger=1)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
        )
        with ctx.tracer.span("replay", "streaming") as rec:
            q = writer.start()
            rec["groups"] = [str(q.runId)]
            try:
                if not q.awaitTermination(170):
                    raise RuntimeError("stream replay did not finish in 170 s")
                if q.exception() is not None:
                    raise RuntimeError(f"stream failed: {q.exception()}")
                rec["progress"] = [json.loads(p.json) for p in q.recentProgress]
            finally:
                q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)
        out = ctx.spark.table(name).toPandas()
        ctx.spark.catalog.dropTempView(name)
        return out

    return Op("trips_stream_timeout", "streaming.trips", run)


@dataclass
class Workload:
    name: str
    why: str
    ops: Callable  # () -> list[Op]
    segments: bool = False  # write segment CSV for the command-line job
    stream_files: int = 0  # time-ordered event files for the stream


TAXI = [
    "trip_length_histogram",
    "segments_clean_positions",
    "airport_trips_parity",
]
# One JVM-only query per warehouse module: joins, aggregates and windows
# with no Python worker.
WAREHOUSE = [
    "top_orders_per_customer",
    "purchase_asof_view",
    "events_tumbling_window",
    "events_session_window",
]
CURATION = [
    "text_quality_score",
    "dedup_simhash",
    "similarity_near_dup_cosine",
    "similarity_topk_ivf",
    "multimodal_real_jpeg_color",
    "corpus_clean_stats",
]

WORKLOADS = {
    w.name: w
    for w in [
        Workload(
            "taxi_reference",
            "the paper's two jobs, their CLI chain and stream, and one JVM-only query per "
            "warehouse module: shuffles, sessionize replay, text I/O, state store",
            ops=lambda: [registry_op(n) for n in TAXI]
            + [pipeline_op(), cli_airport_op(), cli_histogram_op(), stream_op()]
            + [registry_op(n) for n in WAREHOUSE],
            segments=True,
            stream_files=2,
        ),
        Workload(
            "curation_ann",
            "Python workers, driver collects and exact cosine: dedup, ANN serving, JPEG decode",
            ops=lambda: [registry_op(n) for n in CURATION],
        ),
    ]
}


def prepare(w: Workload, ctx: Ctx, seed: int) -> dict:
    """Generate the workload's inputs; return row counts and timing."""
    t0 = time.perf_counter()
    rows = inputs.generate(ctx.run_dir, seed)
    if w.segments:
        ctx.segments = os.path.join(ctx.run_dir, "segments.csv")
        inputs.segments_csv(ctx.tables, ctx.segments, seed)
    if w.stream_files:
        ctx.stream_dir = os.path.join(ctx.run_dir, "stream")
        inputs.stream_split(ctx.tables, ctx.stream_dir, w.stream_files)
    return {"rows": rows, "gen_s": time.perf_counter() - t0}


def run_pass(ctx: Ctx, ops: list, label: str) -> dict:
    """Run every operation once, collecting its output; return the pass
    wall time, each operation's time, any errors, and every output."""
    outputs, op_s, errors = {}, {}, {}
    t_pass = time.perf_counter()
    with ctx.tracer.span(label, "pass") as pass_rec:
        for op in ops:
            release(ctx.spark)
            out = None
            with ctx.tracer.span(op.name, op.layer, query=op.name):
                t0 = time.perf_counter()
                try:
                    out = op.run(ctx)
                except Exception as e:  # counted and printed, then the pass goes on
                    errors[op.name] = f"{type(e).__name__}: {e}"
                    traceback.print_exc(file=sys.stderr)
                op_s[op.name] = time.perf_counter() - t0
            outputs[op.name] = out
        release(ctx.spark)
    return {
        "wall": time.perf_counter() - t_pass,
        "op_s": op_s,
        "outputs": outputs,
        "errors": errors,
        "span": pass_rec,
    }
