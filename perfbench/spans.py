"""Spans around calls into the engine, plus the Spark counters of the jobs
each span launched.

A span records a name, a layer, its parent, its query and its start and
end. While a span is open, every Spark job the benchmark launches carries
the span's id as its job group, so after the run the jobs, stages and SQL
executions in Spark's event log map back to the span that caused them.
Spans stay in memory; ``write`` stores them with their counters and self
times when the run ends.

The event log is written uncompressed and parsed once, after the session
stops, so no counter is read while a timed pass runs.
"""

from __future__ import annotations

import contextlib
import glob
import json
import time
from collections import defaultdict

GROUP_PREFIX = "perfbench-"

# SQL metric names Spark gives its Python-worker nodes, by counter.
PYTHON_METRICS = {
    "python_bytes_sent": "data sent to Python workers",
    "python_bytes_received": "data returned from Python workers",
    "python_start_s": "time to start Python workers",
    "python_run_s": "time to run Python workers",
}
# Divisors that turn a timing metric into seconds.
TIME_SCALE = {"timing": 1e3, "nsTiming": 1e9}


class Tracer:
    """Collects spans; when not ``enabled`` every span is a no-op. Job
    groups are set once ``sc`` (the SparkContext) is known."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "query": attrs.pop("query", None) or (parent or {}).get("query"),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, rec) -> None:
        if self.sc is None:
            return
        value = f"{GROUP_PREFIX}{rec['id']}" if rec else None
        self.sc.setLocalProperty("spark.jobGroup.id", value)

    def descendants(self, root: dict) -> list[dict]:
        """``root`` and every span below it."""
        children = defaultdict(list)
        for s in self.spans:
            children[s["parent"]].append(s)
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(children[s["id"]])
        return out

    def write(self, path: str, log: "EventLog | None") -> None:
        """Store every span with its duration, self time and counters."""
        child_time = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        t0 = min((s["start"] for s in self.spans), default=0.0)
        out = []
        for s in self.spans:
            rec = {k: v for k, v in s.items() if k not in ("progress",)}
            rec["start"] = round(s["start"] - t0, 6)
            rec["end"] = round(s["end"] - t0, 6)
            rec["duration_s"] = round(s["end"] - s["start"], 6)
            rec["self_s"] = round(rec["duration_s"] - child_time[s["id"]], 6)
            if log is not None:
                rec["spark"] = log.counters([s])
            out.append(rec)
        with open(path, "w") as f:
            json.dump(out, f, indent=1)


def _num(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


def _walk(node: dict):
    yield node
    for c in node.get("children", []):
        yield from _walk(c)


class EventLog:
    """The parts of one uncompressed Spark event log the counters need."""

    def __init__(self, log_dir: str):
        files = sorted(glob.glob(f"{log_dir}/*"))
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.plans: dict[int, dict] = {}
        self.exec_group: dict[int, str | None] = {}
        acc: dict[int, int] = defaultdict(int)
        with open(files[0]) as f:
            for line in f:
                # Task events are most of the log and carry nothing the
                # stage totals do not.
                if line.startswith('{"Event":"SparkListenerTask'):
                    continue
                e = json.loads(line)
                kind = e["Event"].rsplit(".", 1)[-1]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    self.jobs[e["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "stages": e["Stage IDs"],
                    }
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    names = {}
                    for a in info.get("Accumulables", []):
                        value = _num(a.get("Value"))
                        acc[a["ID"]] = max(acc[a["ID"]], value)
                        names[a.get("Name")] = value
                    self.stages[info["Stage ID"]] = {
                        "tasks": info.get("Number of Tasks", 0),
                        "wall_ms": _num(info.get("Completion Time"))
                        - _num(info.get("Submission Time")),
                        "m": names,
                    }
                elif kind in (
                    "SparkListenerSQLExecutionStart",
                    "SparkListenerSQLAdaptiveExecutionUpdate",
                ):
                    # The last plan of an execution is its final one.
                    self.plans[e["executionId"]] = e["sparkPlanInfo"]
                    if "jobGroupId" in e:
                        self.exec_group[e["executionId"]] = e["jobGroupId"]
                elif kind == "SparkListenerDriverAccumUpdates":
                    for acc_id, value in e["accumUpdates"]:
                        acc[acc_id] = max(acc[acc_id], _num(value))
        self.acc = dict(acc)

    def _groups(self, spans: list[dict]) -> set:
        groups = {f"{GROUP_PREFIX}{s['id']}" for s in spans}
        for s in spans:
            groups.update(s.get("groups", ()))
        return groups

    def job_count(self, spans: list[dict]) -> int:
        groups = self._groups(spans)
        return sum(1 for j in self.jobs.values() if j["group"] in groups)

    def counters(self, spans: list[dict], text_io: bool = False) -> dict:
        """Spark counters of every job and SQL execution the spans launched."""
        groups = self._groups(spans)
        stage_ids = {
            sid for j in self.jobs.values() if j["group"] in groups for sid in j["stages"]
        }
        stages = [self.stages[s] for s in sorted(stage_ids) if s in self.stages]

        def total(name: str) -> int:
            return sum(st["m"].get(f"internal.metrics.{name}", 0) for st in stages)

        out = {
            "stages": len(stages),
            "tasks": sum(st["tasks"] for st in stages),
            "executor_run_s": total("executorRunTime") / 1e3,
            "executor_cpu_s": total("executorCpuTime") / 1e9,
            "gc_s": total("jvmGCTime") / 1e3,
            "spill_bytes": total("memoryBytesSpilled") + total("diskBytesSpilled"),
            "peak_exec_mem_bytes": max(
                (st["m"].get("internal.metrics.peakExecutionMemory", 0) for st in stages),
                default=0,
            ),
            "shuffle_records": total("shuffle.write.recordsWritten"),
            "shuffle_bytes": total("shuffle.write.bytesWritten"),
            "exchanges": 0,
            "broadcast_bytes": 0,
            "scan_files": 0,
            "scan_bytes": 0,
            "scan_rows": 0,
            **{k: 0 for k in PYTHON_METRICS},
        }
        if text_io:
            reads = [st for st in stages if st["m"].get("internal.metrics.input.bytesRead")]
            writes = [
                st for st in stages if st["m"].get("internal.metrics.output.bytesWritten")
            ]
            out["text_read_s"] = sum(st["wall_ms"] for st in reads) / 1e3
            out["text_write_s"] = sum(st["wall_ms"] for st in writes) / 1e3
            out["text_write_bytes"] = total("output.bytesWritten")
        for exec_id, plan in self.plans.items():
            if self.exec_group.get(exec_id) not in groups:
                continue
            for node in _walk(plan):
                name = node["nodeName"]
                metrics = {m["name"]: m for m in node.get("metrics", [])}

                def value(metric: str) -> int:
                    m = metrics.get(metric)
                    return self.acc.get(m["accumulatorId"], 0) if m else 0

                if name == "Exchange":
                    out["exchanges"] += 1
                elif name == "BroadcastExchange":
                    out["broadcast_bytes"] += value("data size")
                elif name.startswith("Scan "):
                    out["scan_files"] += value("number of files read")
                    out["scan_bytes"] += value("size of files read")
                    out["scan_rows"] += value("number of output rows")
                for key, metric in PYTHON_METRICS.items():
                    if metric in metrics:
                        kind = metrics[metric]["metricType"]
                        v = value(metric)
                        out[key] += v / TIME_SCALE[kind] if kind in TIME_SCALE else v
        return out
