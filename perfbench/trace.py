"""Tracing for the benchmark: spans around calls into the engine's layers,
Spark event-log parsing, and a few process measurements.

Spans are recorded only from the benchmark's own files, around the calls
it makes into a layer (or, for calls the engine makes to itself, by a
wrapper the benchmark installs on the module attribute).  Each span has a
name, start, end, parent and trace id; spans stay in memory and are
written out when the run ends.  While a span is open, its name is set as
the Spark local property ``perfbench.span``, so every Spark job in the
event log can be attributed to the innermost span that launched it.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

SPAN_PROP = "perfbench.span"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    trace_id: int


class Tracer:
    """Span recorder; every method is a no-op when ``enabled`` is false,
    so traced and untraced runs execute the same benchmark code."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.trace_id = 0
        self.spark = None
        self._lock = threading.Lock()

    def record(self, name: str, start: float, end: float) -> None:
        """A span timed on another thread (Spark's streaming callbacks):
        no parent, and no Spark property."""
        if self.enabled:
            with self._lock:
                self.spans.append(Span(name, start, end, None, self.trace_id))

    def new_trace(self) -> None:
        self.trace_id += 1

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.trace_id))
        self._stack.append(idx)
        self._set_prop(name)
        try:
            yield
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()
            self._set_prop(self.spans[self._stack[-1]].name if self._stack else None)

    def _set_prop(self, name: str | None) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setLocalProperty(SPAN_PROP, name)

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a function that runs the original
        inside a span named ``name``."""
        fn = getattr(module, attr)
        if not self.enabled or getattr(fn, "_perfbench", False):
            return

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced._perfbench = True
        setattr(module, attr, traced)

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s.name] += (s.end - s.start) - child[i]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def eventlog_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _totals() -> dict:
    return {"jobs": 0, "stages": 0, "tasks": 0, "gc_s": 0.0,
            "input_bytes": 0, "scan_task_s": 0.0, "shuffle_write": 0, "spill": 0,
            "shuffle_read": [], "bhj": 0, "smj": 0}


def _plan_nodes(info: dict) -> list[str]:
    out = [info.get("nodeName", "")]
    for c in info.get("children", []):
        out.extend(_plan_nodes(c))
    return out


def parse_eventlog(log_dir: str) -> dict:
    """Per-span totals (see ``_totals``; ``shuffle_read`` lists each
    task's bytes, ``bhj``/``smj`` count broadcast and sort-merge joins in
    each SQL execution's final adaptive plan) from every event log under
    ``log_dir``.  Jobs launched outside any span are filed under ``""``."""
    spans: dict[str, dict] = defaultdict(_totals)
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        stage_span: dict[int, str] = {}
        exec_span: dict[str, str] = {}
        exec_plan: dict[str, list[str]] = {}
        ran_stages: set[tuple[str, int]] = set()
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    name = props.get(SPAN_PROP) or ""
                    spans[name]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_span[sid] = name
                    eid = props.get("spark.sql.execution.id")
                    if eid is not None:
                        exec_span.setdefault(eid, name)
                elif kind == "SparkListenerTaskEnd":
                    name = stage_span.get(ev["Stage ID"], "")
                    m = ev.get("Task Metrics") or {}
                    s = spans[name]
                    ran_stages.add((name, ev["Stage ID"]))
                    s["tasks"] += 1
                    run = m.get("Executor Run Time", 0) / 1000
                    s["gc_s"] += m.get("JVM GC Time", 0) / 1000
                    read = (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    s["input_bytes"] += read
                    if read:
                        s["scan_task_s"] += run
                    s["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    s["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    rb = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    if rb:
                        s["shuffle_read"].append(rb)
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                        "SparkListenerSQLAdaptiveExecutionUpdate"):
                    exec_plan[str(ev["executionId"])] = _plan_nodes(ev.get("sparkPlanInfo") or {})
        for name, _ in ran_stages:
            spans[name]["stages"] += 1
        for eid, nodes in exec_plan.items():
            name = exec_span.get(eid)
            if name is not None:
                spans[name]["bhj"] += nodes.count("BroadcastHashJoin")
                spans[name]["smj"] += nodes.count("SortMergeJoin")
    return dict(spans)


def sum_spans(stats: dict, prefix: str) -> dict:
    """Add up the event-log totals of every span whose name starts with
    ``prefix``."""
    tot = _totals()
    for name, s in stats.items():
        if name.startswith(prefix):
            for k, v in s.items():
                tot[k] = tot[k] + v
    return tot


def skew(reads: list[int]) -> float:
    """Max ÷ median of per-task shuffle-read bytes (1.0 when balanced)."""
    if not reads:
        return 0.0
    return max(reads) / statistics.median(reads)


def peak_rss_mb(root_pid: int) -> float:
    """Sum of the peak resident sizes (``VmHWM``) of ``root_pid`` and every
    live descendant: the benchmark's Python, the JVM, Python workers."""
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/status") as f:
                hwm = [line for line in f if line.startswith("VmHWM:")]
            total += int(hwm[0].split()[1]) if hwm else 0
            for kids in glob.glob(f"/proc/{pid}/task/*/children"):
                with open(kids) as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:  # the process ended while we looked
            continue
    return total / 1024


def loadavg() -> str:
    with open("/proc/loadavg") as f:
        return " ".join(f.read().split()[:3])
