"""Tracing for the traced run (``--trace 1``), kept entirely outside the engine.

Spans are recorded around calls into each layer's public functions by
wrapping them in place: every module-level public function of
``catalog``, ``session``, ``plans.*``, ``operators.*`` and ``sources.*``
is replaced, in every engine module that holds a reference to it, by a
wrapper that opens a span named ``<layer>.<module>.<function>``. The
workloads add the spans the engine has no function for (``queries.build``,
``plans.catalyst``, ``exec.action``), and Spark's jobs become
``exec.job.build`` / ``exec.job.exec`` spans read back from the event
log, which the traced run alone enables. Spans stay in memory and are written once, at the end.
"""

from __future__ import annotations

import functools
import inspect
import json
import statistics
import sys
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

LAYER_PACKAGES = {
    "weather_tools_spark.session": "session",
    "weather_tools_spark.catalog": "catalog",
    "weather_tools_spark.plans": "plans",
    "weather_tools_spark.operators": "operators",
    "weather_tools_spark.sources": "sources",
}


class Tracer:
    """In-memory span store plus the counters recorded at layer boundaries."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self.op: str | None = None
        self.phase: str | None = None
        self.captured: dict[str, list[dict]] = {}  # op id -> Zarr scans it started
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None, "op": self.op}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add_span(self, name: str, start: float, end: float, parent: int | None, op: str | None) -> None:
        self.spans.append({"id": len(self.spans), "name": name, "start": start, "end": end,
                           "parent": parent, "op": op})

    def layer_seconds(self, prefix: str, op: str | None = None) -> float:
        """Total time in top-most spans whose name starts with ``prefix``
        (a span nested in a span of the same prefix is not counted twice)."""
        by_id = {s["id"]: s for s in self.spans}
        total = 0.0
        for s in self.spans:
            if not s["name"].startswith(prefix) or s["end"] is None or (op and s["op"] != op):
                continue
            p = s["parent"]
            while p is not None and not by_id[p]["name"].startswith(prefix):
                p = by_id[p]["parent"]
            if p is None:
                total += s["end"] - s["start"]
        return total

    def self_times(self) -> dict[str, dict]:
        """Per span name: calls, total and self seconds (duration minus the
        part of it the span's children cover)."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        out: dict[str, dict] = defaultdict(lambda: {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        for s in self.spans:
            if s["end"] is None:
                continue
            covered, cursor = 0.0, s["start"]
            for c in sorted(children[s["id"]], key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"] or c["start"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            rec = out[s["name"]]
            rec["calls"] += 1
            rec["total_s"] += s["end"] - s["start"]
            rec["self_s"] += s["end"] - s["start"] - covered
        return dict(out)

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_times": self.self_times(), **extra}, f)


def _layer_of(module_name: str) -> str | None:
    for pkg, layer in LAYER_PACKAGES.items():
        if module_name == pkg or module_name.startswith(pkg + "."):
            return layer
    return None


def instrument(tracer: Tracer) -> int:
    """Wrap every public module-level function of the traced layers, in
    every loaded engine module that refers to it. Returns the number of
    functions wrapped. Wrappers keep the original's module and name, so
    a function shipped to Python workers still pickles by reference and
    runs unwrapped there."""
    engine = {n: m for n, m in sys.modules.items() if n.startswith("weather_tools_spark") and m}
    wrapped: dict[int, object] = {}
    for name, mod in engine.items():
        layer = _layer_of(name)
        if layer is None:
            continue
        for attr, fn in list(vars(mod).items()):
            if (attr.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != name
                    or "." in fn.__qualname__ or inspect.isgeneratorfunction(fn)):
                continue
            wrapped[id(fn)] = _wrap(tracer, fn, f"{layer}.{name.rsplit('.', 1)[-1]}.{attr}")
    for mod in engine.values():
        for attr, obj in list(vars(mod).items()):
            if id(obj) in wrapped and not attr.startswith("__"):
                setattr(mod, attr, wrapped[id(obj)])
    return len(wrapped)


def _wrap(tracer: Tracer, fn, span_name: str):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(span_name):
            return fn(*args, **kwargs)

    return wrapper


def count_py4j(tracer: Tracer) -> None:
    """Count gateway commands per phase (``build`` / ``exec`` / other)."""
    from py4j.java_gateway import GatewayClient

    send = GatewayClient.send_command

    @functools.wraps(send)
    def counted(self, *args, **kwargs):
        tracer.counts[f"py4j.{tracer.phase}"] += 1
        return send(self, *args, **kwargs)

    GatewayClient.send_command = counted


# ---------------------------------------------------------------------------
# Spark event log → per-operation stage metrics
# ---------------------------------------------------------------------------

PYTHON_ACCUMS = ("data sent to Python workers", "data returned from Python workers")


def read_event_log(paths: list[str]) -> dict[str, dict]:
    """Aggregate task metrics per job group. Job groups are
    ``<op>:build`` / ``<op>:exec``; block updates (cached partitions) are
    attributed to the group of the most recent job started before them."""
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    stage_tasks: dict[int, list[float]] = defaultdict(list)
    job_spans: dict[str, list[tuple[float, float]]] = defaultdict(list)
    job_start: dict[int, float] = {}
    current = None
    for path in paths:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    current = e.get("Properties", {}).get("spark.jobGroup.id") or "none"
                    job_group[e["Job ID"]] = current
                    job_start[e["Job ID"]] = e["Submission Time"] / 1000.0
                    groups[current]["jobs"] += 1
                    for sid in e["Stage IDs"]:
                        stage_group[sid] = current
                elif kind == "SparkListenerJobEnd":
                    g = job_group.get(e["Job ID"], "none")
                    job_spans[g].append((job_start.get(e["Job ID"], 0.0), e["Completion Time"] / 1000.0))
                elif kind == "SparkListenerStageCompleted":
                    g = stage_group.get(e["Stage Info"]["Stage ID"], "none")
                    groups[g]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(e["Stage ID"], "none")
                    m, info, acc = e.get("Task Metrics") or {}, e["Task Info"], groups[g]
                    acc["tasks"] += 1
                    acc["failed_tasks"] += bool(info.get("Failed"))
                    run = m.get("Executor Run Time", 0) / 1000.0
                    stage_tasks[e["Stage ID"]].append(run)
                    acc["executor_run_s"] += run
                    acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    acc["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    sr = m.get("Shuffle Read Metrics", {})
                    acc["shuffle_read_bytes"] += sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)
                    acc["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    for a in info.get("Accumulables", []):
                        if a.get("Name") in PYTHON_ACCUMS:
                            acc["python_bytes"] += float(a.get("Update") or 0)
                elif kind == "SparkListenerBlockUpdated":
                    info = e["Block Updated Info"]
                    if info["Block ID"].startswith("rdd_") and current is not None:
                        groups[current]["persist_bytes"] += info.get("Memory Size", 0) + info.get("Disk Size", 0)
    for sid, runs in stage_tasks.items():
        g = stage_group.get(sid, "none")
        med = statistics.median(runs)
        # the op's dominant stage (most executor time) sets its skew ratio
        if sum(runs) > groups[g]["_dominant_run"]:
            groups[g]["_dominant_run"] = sum(runs)
            groups[g]["task_max_over_median"] = max(runs) / med if med > 0 else 1.0
    for g, spans in job_spans.items():
        groups[g]["job_intervals"] = spans
    return {g: dict(v) for g, v in groups.items()}
