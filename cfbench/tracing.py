"""Tracing for the benchmark's traced run: spans recorded around calls into
the program, and Spark's own event log attributed to those spans.

Spans live in memory (`Tracer.spans`). A span's self time is its duration
minus the part covered by its child spans. Spark jobs, tasks and SQL
executions are read from the event log after the session stops and counted
in the wall-clock window of the operation or span that holds them, which
also covers jobs that the program submits from its own worker threads.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: "Span | None" = None
    children_s: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.seconds - self.children_s


@dataclass
class Tracer:
    """Records spans; `enabled=False` makes every call a pass-through."""

    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _local: threading.local = field(default_factory=threading.local)

    def call(self, name: str, fn, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        # each thread keeps its own stack, so a span's parent and its
        # children_s are only touched by the thread that opened them
        span = Span(name, time.time(), parent=stack[-1] if stack else None)
        self.spans.append(span)
        stack.append(span)
        try:
            return fn(*args, **kwargs)
        finally:
            span.end = time.time()
            stack.pop()
            if span.parent is not None:
                span.parent.children_s += span.seconds

    def wrap(self, module, name: str, label: str) -> bool:
        """Route `module.name` through a span; False if the program no
        longer has that function."""
        fn = getattr(module, name, None)
        if fn is None:
            return False

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.call(label, fn, *args, **kwargs)

        setattr(module, name, traced)
        return True


@dataclass
class SparkEvents:
    """Jobs, tasks and SQL executions from one application's event log."""

    jobs: list[dict] = field(default_factory=list)
    tasks: list[dict] = field(default_factory=list)
    executions: list[dict] = field(default_factory=list)
    # "size of files read" of each file scan, a driver-side SQL metric; the
    # task-level "Bytes Read" misses what the vectorized parquet reader reads
    scan_bytes: list[dict] = field(default_factory=list)

    @classmethod
    def load(cls, log_dir: str) -> "SparkEvents":
        ev = cls()
        exec_time: dict[str, float] = {}
        size_ids: set[int] = set()
        # Spark 4 writes `eventlog_v2_<app>/events_<n>_<app>` files
        paths = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True))
        paths += sorted(p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p))
        for path in paths:
            with open(path) as fh:
                for line in fh:
                    e = json.loads(line)
                    kind = e.get("Event", "")
                    if kind == "SparkListenerJobStart":
                        ev.jobs.append({"t": e["Submission Time"] / 1000.0})
                    elif kind == "SparkListenerTaskEnd":
                        m = e.get("Task Metrics") or {}
                        info = e["Task Info"]
                        sw = m.get("Shuffle Write Metrics") or {}
                        ev.tasks.append({
                            "t": info["Finish Time"] / 1000.0,
                            "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                            "spill": m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0),
                            "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                            "records_read": (m.get("Input Metrics") or {}).get(
                                "Records Read", 0),
                        })
                    elif kind.endswith("SparkListenerSQLExecutionStart"):
                        exec_time[str(e["executionId"])] = int(e["time"]) / 1000.0
                        size_ids |= _metric_ids(e.get("sparkPlanInfo"), "size of files read")
                        ev.executions.append({
                            "t": int(e["time"]) / 1000.0,
                            "id": str(e["executionId"]),
                            "root": str(e.get("rootExecutionId", e["executionId"])),
                            "plan": e.get("physicalPlanDescription", ""),
                        })
                    elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                        size_ids |= _metric_ids(e.get("sparkPlanInfo"), "size of files read")
                    elif kind.endswith("SparkListenerDriverAccumUpdates"):
                        t = exec_time.get(str(e["executionId"]))
                        for acc_id, value in e.get("accumUpdates", []):
                            if acc_id in size_ids and t is not None:
                                ev.scan_bytes.append({"t": t, "bytes": int(value)})
        return ev

    def shuffles(self, start: float, end: float) -> int:
        """SQL executions started in [start, end] that shuffle by hash,
        counting a nested execution only when its root does not shuffle
        (writes inside `foreachBatch` nest under the micro-batch)."""
        plans = {x["id"]: x["plan"] for x in self.executions}
        return sum(
            1 for x in self.within(self.executions, start, end)
            if "hashpartitioning" in x["plan"]
            and (x["root"] == x["id"] or "hashpartitioning" not in plans.get(x["root"], ""))
        )

    @staticmethod
    def within(items: list[dict], start: float, end: float) -> list[dict]:
        return [x for x in items if start <= x["t"] <= end]


def _metric_ids(plan: dict | None, name: str) -> set[int]:
    """Accumulator ids of the SQL metric `name` anywhere in a plan tree."""
    out: set[int] = set()
    stack = [plan] if plan else []
    while stack:
        node = stack.pop()
        out |= {m["accumulatorId"] for m in node.get("metrics", []) if m.get("name") == name}
        stack += node.get("children", [])
    return out


def log_conf(log_dir: str) -> dict[str, str]:
    """Session settings that make Spark write its event log to `log_dir`."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
    }
