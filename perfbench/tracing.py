"""Driver-side spans and a Spark event-log reader.

Spans are recorded by the benchmark around its calls into the engine's
public functions; the engine itself is not instrumented. Each span sets the
Spark local property `perfbench.span`, so every stage Spark submits while
the span is open carries the span id into the event log, which ties task
metrics and SQL node metrics back to the span (and to its rep).
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

SPAN_PROPERTY = "perfbench.span"


class Tracer:
    """Spans kept in memory: name, start, end, parent span, rep id."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self.rep: int | None = None
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "rep": self.rep,
            "parent": self._open[-1] if self._open else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        self.sc.setLocalProperty(SPAN_PROPERTY, str(rec["id"]))
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()
            self.sc.setLocalProperty(SPAN_PROPERTY, str(self._open[-1]) if self._open else None)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Median per rep of each span name's self time: its duration minus
        the part of it its child spans cover (children never overlap)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        per = defaultdict(list)
        for s in self.spans:
            per[s["name"]].append(s["end"] - s["start"] - child[s["id"]])
        return {k: statistics.median(v) for k, v in per.items()}

    def ids(self, name: str | None = None, reps=None) -> set[str]:
        return {
            str(s["id"])
            for s in self.spans
            if (name is None or s["name"] == name) and (reps is None or s["rep"] in reps)
        }

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


_TIME_SCALE = {"nsTiming": 1e-9, "timing": 1e-3}


class EventLog:
    """Task metrics and per-SQL-node metric totals from one event-log file,
    keyed by the span each stage was submitted under."""

    def __init__(self, path: str):
        self.stage_span: dict[int, str | None] = {}
        self.stage_exec: dict[int, str | None] = {}
        self.tasks: list[dict] = []
        self.plans: dict[int, dict] = {}
        self.accum: dict[int, float] = defaultdict(float)
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            props = e.get("Properties") or {}
            self.stage_span[sid] = props.get(SPAN_PROPERTY)
            self.stage_exec[sid] = props.get("spark.sql.execution.id")
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
            self.tasks.append(
                {
                    "stage": e["Stage ID"],
                    "span": self.stage_span.get(e["Stage ID"]),
                    "failed": bool(info.get("Failed")),
                    "duration_s": (info["Finish Time"] - info["Launch Time"]) / 1e3,
                    "run_s": m.get("Executor Run Time", 0) / 1e3,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1e3,
                    "bytes_read": m.get("Input Metrics", {}).get("Bytes Read", 0),
                    "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                }
            )
            for a in info.get("Accumulables", []):
                if isinstance(a.get("Update"), (int, float)) or str(a.get("Update", "")).lstrip("-").isdigit():
                    self.accum[a["ID"]] += float(a["Update"])
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            self.plans[e["executionId"]] = e["sparkPlanInfo"]  # last (final) plan wins
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in e["accumUpdates"]:
                self.accum[acc_id] += float(value)

    def tasks_of(self, spans: set[str]) -> list[dict]:
        return [t for t in self.tasks if t["span"] in spans]

    def nodes_of(self, spans: set[str], into_cache: bool = False) -> list[dict]:
        """Every plan node of the SQL executions run under `spans`, as
        {"name", "desc" (the node's one-line description), "exec" (its SQL
        execution id), "metadata", "metrics": {metric name: value in
        s/bytes/rows}}.
        The plan under an InMemoryTableScan is the cached plan, whose metrics
        belong to the execution that built the cache: walk into it only for
        that execution (`into_cache`)."""
        execs = {
            int(self.stage_exec[s])
            for s, sp in self.stage_span.items()
            if sp in spans and self.stage_exec.get(s) is not None
        }
        out = []

        def walk(node, x):
            metrics = {}
            for m in node.get("metrics", []):
                v = self.accum.get(m["accumulatorId"])
                if v is not None:
                    metrics[m["name"]] = v * _TIME_SCALE.get(m["metricType"], 1.0)
            out.append(
                {
                    "name": node["nodeName"],
                    "desc": node.get("simpleString", ""),
                    "exec": x,
                    "metrics": metrics,
                    "metadata": node.get("metadata", {}),
                }
            )
            if into_cache or node["nodeName"] != "InMemoryTableScan":
                for c in node.get("children", []):
                    walk(c, x)

        for x in sorted(execs):
            if x in self.plans:
                walk(self.plans[x], x)
        return out


def find_event_log(log_dir: str) -> str:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return files[0]


def spark_metrics(tasks: list[dict]) -> dict:
    """Task-level totals; skew is max/median task time in the widest stage."""
    by_stage = defaultdict(list)
    for t in tasks:
        by_stage[t["stage"]].append(t["duration_s"])
    widest = max(by_stage.values(), key=len, default=[])
    med = statistics.median(widest) if widest else 0.0
    return {
        "spark.executor_run_s": sum(t["run_s"] for t in tasks),
        "spark.executor_cpu_s": sum(t["cpu_s"] for t in tasks),
        "spark.jvm_gc_s": sum(t["gc_s"] for t in tasks),
        "spark.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
        "spark.shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
        "spark.spill_bytes": sum(t["spill"] for t in tasks),
        "spark.tasks": len(tasks),
        "spark.failed_tasks": sum(t["failed"] for t in tasks),
        "spark.task_skew": max(widest) / med if med > 0 else 1.0,
    }
