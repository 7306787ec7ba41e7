"""Benchmark of the engine: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a source tree (the directory holding
``mapreduce_hadoop_spark/`` and ``tools/``). A run

1. generates the workload's inputs from ``--seed`` (``inputs.py``);
2. sets up: starts the session on ``local[<cores>]``, then runs one pass,
   the same as a timed one, that compiles every plan (codegen, JIT, Python
   workers, Arrow collection);
3. runs timed passes, each collecting every output: one, then more as
   long as the next one should end within ``--seconds``;
4. checks the first timed pass's outputs (``checks.py``), outside any
   timed pass;
5. prints, as its last line, ``{"correct", "attempted", "failed",
   "metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
   metrics with ``--trace 1``.

With ``--trace 1`` Spark writes an uncompressed event log, every call into
the engine runs inside a span (``spans.py``), and the spans are written to
``.perfbench_work/traces/`` with their counters when the run ends. Per-layer
metrics cover the first timed pass, plus session start and input generation.

Everything the run writes stays under ``.perfbench_work/`` in the source
tree; every process it starts has ended when it exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

import workloads  # noqa: E402
from spans import EventLog, Tracer  # noqa: E402

# Driver heap. The engine's default (16g) is the whole box; these inputs
# need far less.
DRIVER_MEMORY = "2g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


# --- process tree ----------------------------------------------------------

def _children() -> dict:
    kids: dict = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided among
    the processes sharing it, so a forked child (a Python worker, or the JVM
    forking a shell) does not count its parent's pages a second time."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    driver JVM and its Python workers), summed as proportional set size and
    sampled every 50 ms. ``parts`` holds the per-process sizes at the peak,
    largest first."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self.parts: list[int] = []
        self._done = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._done.is_set():
            sizes = [_pss_bytes(p) for p in [me, *descendants(me)]]
            if sum(sizes) > self.peak:
                self.peak, self.parts = sum(sizes), sorted(sizes, reverse=True)
            self._done.wait(0.05)

    def stop(self) -> int:
        self._done.set()
        self.join()
        return self.peak


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until every process this run
    started has ended."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None) if gateway else None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    alive = started
    while alive:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        if alive and time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 30
        if alive:
            time.sleep(0.1)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return False


# --- metrics ---------------------------------------------------------------

def manifest() -> dict:
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def layer_metrics(tracer: Tracer, log: EventLog, first: dict,
                  session_s: float, gen_s: float, traced_job_s: float) -> dict:
    """Per-layer metrics of the first timed pass, plus session start and
    input generation."""
    spans = tracer.descendants(first["span"])
    counters = log.counters(spans)
    cli = [s for s in spans if s["layer"] == "cli" and s["name"] != s.get("query")]
    text = log.counters(cli, text_io=True) if cli else {}

    def total(pred) -> float:
        return sum(s["end"] - s["start"] for s in spans if pred(s))

    m = {
        "session.start_s": session_s,
        "inputs.gen_s": gen_s,
        "trace.job_s": traced_job_s,
        "sources.scan_files": counters["scan_files"],
        "sources.scan_bytes": counters["scan_bytes"],
        "sources.scan_rows": counters["scan_rows"],
        "sources.text_read_s": text.get("text_read_s", 0.0),
        "sources.text_write_s": text.get("text_write_s", 0.0),
        "sources.text_write_bytes": text.get("text_write_bytes", 0),
        "cli.airport_revenue_s": total(lambda s: s in cli and s["name"] == "airport_revenue"),
        "cli.histogram_s": total(lambda s: s in cli and s["name"] == "histogram"),
        "operators.build_s": total(lambda s: s["layer"] == "operators.build"),
        "operators.build_jobs": log.job_count(
            [s for s in spans if s["layer"] == "operators.build"]),
        "operators.action_s": total(lambda s: s["layer"] == "operators.action"),
        "spark.planning_s": sum(s.get("planning_s", 0.0) for s in spans),
    }
    for key in ("exchanges", "shuffle_records", "shuffle_bytes", "broadcast_bytes",
                "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                "spill_bytes", "peak_exec_mem_bytes", "python_run_s", "python_start_s",
                "python_bytes_sent", "python_bytes_received"):
        m[f"spark.{key}"] = counters[key]
    # Operation time by the engine module that defines it.
    for s in spans:
        top = s["parent"] == first["span"]["id"]
        if top and s["layer"].startswith(("operators.", "streaming.")):
            key = f"{s['layer']}_s"
            m[key] = m.get(key, 0.0) + s["end"] - s["start"]
    progress = [p for s in spans for p in s.get("progress", [])]
    ops = [so for p in progress for so in p.get("stateOperators", [])]

    def dur(key: str) -> float:
        return sum(p["durationMs"].get(key, 0) for p in progress) / 1e3

    m.update({
        "streaming.batches": len(progress),
        "streaming.batch_p50_s": statistics.median(
            [p["durationMs"]["triggerExecution"] / 1e3 for p in progress]) if progress else 0.0,
        "streaming.input_rows": sum(p.get("numInputRows", 0) for p in progress),
        "streaming.add_batch_s": dur("addBatch"),
        "streaming.wal_commit_s": dur("walCommit"),
        "streaming.query_planning_s": dur("queryPlanning"),
        "streaming.state_rows_peak": max((so.get("numRowsTotal", 0) for so in ops), default=0),
        "streaming.state_rows_removed": sum(so.get("numRowsRemoved", 0) for so in ops),
        "streaming.state_mem_bytes": max((so.get("memoryUsedBytes", 0) for so in ops), default=0),
        "streaming.state_commit_s": sum(so.get("commitTimeMs", 0) for so in ops) / 1e3,
    })
    return m


def report(specs: list, values: dict) -> dict:
    """Every metric ``specs`` names, with its unit; 0 where this workload
    does not exercise the layer."""
    return {s["name"]: {"value": values.get(s["name"], 0), "unit": s["unit"]} for s in specs}


# --- run -------------------------------------------------------------------

def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in ("mapreduce_hadoop_spark", "tools/make_scale_data.py",
                           "tools/check_oracle.py", "BENCHMARK.json") if not (ROOT / p).exists()]
    if missing:
        print(f"perfbench: not a source tree, missing {missing} under {ROOT}", file=sys.stderr)
        return 2
    w = workloads.WORKLOADS[args.workload]
    work = ROOT / ".perfbench_work"
    run_dir = work / f"{w.name}-seed{args.seed}-pid{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local", "index", "eventlog"):
        (run_dir / sub).mkdir(parents=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores()),
        # A fresh index root per run: no ANN index fitted by another tree
        # or seed can serve.
        "SPARK_GRAFT_INDEX_DIR": str(run_dir / "index"),
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": str(run_dir / "tmp"),
        "SPARK_LOCAL_DIRS": str(run_dir / "local"),
    })
    try:
        return _run(args, w, run_dir, work)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, w, run_dir: Path, work: Path) -> int:
    tracer = Tracer(enabled=bool(args.trace))
    ctx = workloads.Ctx(spark=None, tables=str(run_dir / "tables"), run_dir=str(run_dir),
                        tracer=tracer)
    gen = workloads.prepare(w, ctx, args.seed)
    print(f"inputs: {sum(gen['rows'].values())} rows in "
          f"{len(gen['rows'])} tables, generated in {gen['gen_s']:.2f} s (not part of setup_s)")

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": str(run_dir / "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'}",
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{run_dir / 'eventlog'}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    ops = w.ops()

    t_setup = time.perf_counter()
    from mapreduce_hadoop_spark.session import get_spark

    spark = get_spark(f"perfbench-{w.name}", extra_conf=conf)
    session_s = time.perf_counter() - t_setup
    spark.sparkContext.setLogLevel("ERROR")
    ctx.spark = spark
    tracer.sc = spark.sparkContext
    try:
        # Compile warm-up: the first execution of a plan pays for codegen,
        # JIT and Python-worker start; timed passes start from the second.
        setup = workloads.run_pass(ctx, ops, label="setup")
        setup.pop("outputs")
        setup_s = time.perf_counter() - t_setup
        print(f"setup: {setup_s:.2f} s (session {session_s:.2f} s)")
        failed = {f"{name}#setup": why for name, why in setup["errors"].items()}

        # The outputs checked are the ones the first timed pass produced.
        # Memory is a per-layer metric: only the traced run samples it.
        rss = RssSampler() if args.trace else None
        if rss:
            rss.start()
        passes = []
        t0 = time.perf_counter()
        # Start another pass only if it should end within --seconds.
        while not passes or time.perf_counter() - t0 + passes[-1]["wall"] <= args.seconds:
            p = workloads.run_pass(ctx, ops, label=f"pass{len(passes)}")
            if passes:
                p.pop("outputs")
            passes.append(p)
            for name, why in p["errors"].items():
                failed[f"{name}#{len(passes)}"] = why
        peak = rss.stop() if rss else 0
        attempted = len(ops) * (1 + len(passes))

        from checks import check_outputs

        outputs = passes[0]["outputs"]
        wrong = check_outputs(spark, ctx, outputs)
        for name, found in wrong.items():
            failed[name] = "; ".join(found)
        for name, why in failed.items():
            print(f"FAILED {name}: {why}")
        print(f"checks: {len(outputs) - len(wrong)}/{len(outputs)} outputs correct")
    finally:
        stop_spark(spark)

    for name, t in setup["op_s"].items():
        print(f"  {name:36s} setup {t:7.3f} s   first pass {passes[0]['op_s'][name]:7.3f} s")
    walls = [p["wall"] for p in passes]
    samples = [t for p in passes for t in p["op_s"].values()]
    job_s = statistics.median(walls)
    print(f"passes: {len(passes)} in {time.perf_counter() - t0:.1f} s, pass wall "
          + " ".join(f"{x:.3f}" for x in walls))
    if rss:
        print(f"peak rss: {peak / 2**20:.0f} MB over {len(rss.parts)} processes: "
              + " ".join(f"{x / 2**20:.0f}" for x in rss.parts if x > 2**20))
    print(f"operations: {len(samples)} samples, p50 {statistics.median(samples):.4f} s, "
          f"geomean {statistics.geometric_mean(samples):.4f} s, max {max(samples):.4f} s")

    spec = manifest()
    if args.trace:
        log = EventLog(str(run_dir / "eventlog"))
        values = layer_metrics(tracer, log, passes[0], session_s, gen["gen_s"], job_s)
        values["process.peak_rss_mb"] = peak / 2**20
        traces = work / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        path = traces / f"{w.name}-seed{args.seed}.json"
        tracer.write(str(path), log)
        print(f"trace: {len(tracer.spans)} spans written to {path.relative_to(ROOT)}")
        metrics = report(spec["per_layer"], values)
    else:
        values = {
            "setup_s": setup_s,
            "job_s": job_s,
            "op_geomean_s": statistics.geometric_mean(samples),
        }
        metrics = report(spec["end_to_end"], values)
    print(json.dumps({
        "correct": not failed,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
