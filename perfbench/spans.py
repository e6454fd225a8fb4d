"""Spans recorded at the benchmark's call boundaries, and the per-layer
metrics computed from them.

A span has a name, a start and an end (epoch seconds), the id of the span
that caused it and the id of the operation it belongs to. Attributes hold
what Spark reported for that call: job-group stage totals, Catalyst phase
times and streaming progress. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """Records spans when enabled; a disabled tracer records nothing."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "start": time.time(),
            "end": None,
            "attrs": dict(attrs),
        }
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: dict, **attrs) -> None:
        """A span whose times were measured elsewhere (Catalyst phases)."""
        if self.enabled:
            self.spans.append(
                {
                    "id": len(self.spans),
                    "name": name,
                    "parent": parent["id"],
                    "op": parent["op"],
                    "start": start,
                    "end": end,
                    "attrs": dict(attrs),
                }
            )

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class CatalystListener:
    """A ``QueryExecutionListener`` implemented in Python through the py4j
    callback server: it keeps the phase times of every finished query
    execution (the sink's optimization and physical planning)."""

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        self._manager = spark._jsparkSession.listenerManager()
        self.events: list[dict[str, tuple[float, float]]] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        self.events.append(phases(qe))

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (Java API)
        self.events.append(phases(qe))

    def register(self) -> None:
        self._manager.register(self)

    def unregister(self) -> None:
        self._manager.unregister(self)

    def take(self) -> list[dict[str, tuple[float, float]]]:
        out, self.events = self.events, []
        return out

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def phases(qe) -> dict[str, tuple[float, float]]:
    """{phase: (start, end)} in epoch seconds from a QueryExecution's
    ``QueryPlanningTracker``."""
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        summary = kv._2()
        out[kv._1()] = (summary.startTimeMs() / 1e3, summary.endTimeMs() / 1e3)
    return out


def pass_layers(spans: list[dict], pass_span: dict, cores: int) -> dict[str, float]:
    """Per-layer figures of one traced pass, from its spans."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    inside, frontier = [], [pass_span["id"]]
    while frontier:
        for c in children.get(frontier.pop(), []):
            inside.append(c)
            frontier.append(c["id"])

    def of(name: str) -> list[dict]:
        return [s for s in inside if s["name"] == name]

    def starting(prefix: str) -> list[dict]:
        return [s for s in inside if s["name"].startswith(prefix)]

    def dur(ss: list[dict]) -> float:
        return sum(s["end"] - s["start"] for s in ss)

    def attr(ss: list[dict], key: str) -> float:
        return sum(s["attrs"].get(key, 0) for s in ss)

    ops, writes, streams = of("op"), starting("write:"), starting("stream:")
    exec_s = dur(of("sink") + writes + streams)
    batches = [d for s in streams for d in s["attrs"]["batch_s"]]
    task_run = attr(ops, "task_run_s")
    return {
        "registry.construct_s": dur(of("construct")),
        "registry.construct_jobs": attr(ops, "construct_jobs"),
        "driver.py_cpu_s": pass_span["attrs"]["driver_cpu_s"],
        "catalyst.analysis_s": dur(of("analysis")),
        "catalyst.optimization_s": dur(of("optimization")),
        "catalyst.planning_s": dur(of("planning")),
        "exec.jobs": attr(ops, "jobs"),
        "exec.stages": attr(ops, "stages"),
        "exec.tasks": attr(ops, "tasks"),
        "exec.task_run_s": task_run,
        "exec.task_cpu_s": attr(ops, "task_cpu_s"),
        "exec.python_worker_cpu_s": pass_span["attrs"]["py_worker_cpu_s"],
        "exec.core_util": task_run / (exec_s * cores) if exec_s else 0.0,
        "exec.shuffle_read_mb": attr(ops, "shuffle_read_mb"),
        "exec.spill_mb": attr(ops, "spill_mb"),
        "exec.gc_s": attr(ops, "gc_s"),
        "caching.drained": attr(of("drain"), "drained"),
        "caching.drain_s": dur(of("drain")),
        "sources.write_s": dur(writes),
        "sources.written_mb": attr(writes, "written_mb"),
        "sources.files_written": attr(writes, "files"),
        "streaming.batches": len(batches),
        "streaming.batch_p50_s": statistics.median(batches) if batches else 0.0,
        "streaming.input_rows_per_s": attr(streams, "input_rows") / sum(batches)
        if batches else 0.0,
        "streaming.state_rows": attr(streams, "state_rows"),
        "streaming.state_mb": attr(streams, "state_mb"),
    }
