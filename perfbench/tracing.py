"""Span recorder for the traced run.

The recorder wraps the engine's layer entry points from outside (the
engine's source is not edited): each wrapped call records a span with its
name, start, end, parent span and the id of the client operation it serves.
Spans stay in memory and are written out when the run ends.

Parenting: a span's parent is the innermost span open on the same thread;
a server-thread span with no open span on its thread hangs under the root
span of the client operation in flight. That is unambiguous because the
benchmark drives the engine from one client thread, so at most one client
operation is in flight at a time.

Spark jobs are not spans: they come from Spark's event log afterwards and
are attributed to the innermost span open when the job was submitted.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

# (module, owner attribute or None for a module function, attribute, span name)
WRAPPED = [
    ("seafowl_spark.engine.server", "SeafowlHandler", "_run_query", "frontend.http_post"),
    ("seafowl_spark.engine.server", "SeafowlHandler", "_cached_read", "frontend.http_get"),
    ("seafowl_spark.engine.server", None, "_rows_to_jsonlines", "server.jsonlines"),
    ("seafowl_spark.engine.pgwire", "_Handler", "_simple_query", "frontend.pgwire_query"),
    ("seafowl_spark.engine.pgwire", "_Handler", "_send_rows", "pgwire.send_rows"),
    ("seafowl_spark.engine.flight", "SeafowlFlightServer", "get_flight_info", "frontend.flight_info"),
    ("seafowl_spark.engine.flight", "SeafowlFlightServer", "_execute_to_arrow", "flight.to_arrow"),
    ("seafowl_spark.engine.flight", "SeafowlFlightServer", "do_get", "frontend.flight_get"),
    ("seafowl_spark.engine.flight", "SeafowlFlightServer", "do_put", "frontend.flight_put"),
    ("seafowl_spark.engine.flight", "SeafowlFlightServer", "do_action", "frontend.flight_action"),
    ("seafowl_spark.engine.context", "SeafowlContext", "execute", "context.execute"),
    ("seafowl_spark.engine.context", "SeafowlContext", "reload_views", "context.reload_views"),
    ("seafowl_spark.engine.context", "SeafowlContext", "_rewrite_names", "context.rewrite"),
    ("seafowl_spark.engine.context", "SeafowlContext", "etag_for_query", "context.etag"),
    ("seafowl_spark.engine.context", "SeafowlContext", "_exec_refresh_matview", "matview.refresh"),
    ("pyspark.sql.session", "SparkSession", "sql", "catalyst.sql"),
    ("seafowl_spark.engine.deltalite", "DeltaLiteTable", "snapshot", "deltalite.snapshot"),
    ("seafowl_spark.engine.deltalite", "DeltaLiteTable", "append", "deltalite.append"),
    ("seafowl_spark.engine.deltalite", "DeltaLiteTable", "update", "deltalite.update"),
    ("seafowl_spark.engine.deltalite", "DeltaLiteTable", "delete", "deltalite.delete"),
    ("seafowl_spark.engine.deltalite", "DeltaLiteTable", "merge", "deltalite.merge"),
    ("seafowl_spark.engine.deltalite", "DeltaLiteTable", "optimize", "deltalite.optimize"),
    ("seafowl_spark.engine.deltalite", "DeltaLiteTable", "_write_commit", "deltalite.commit"),
    ("seafowl_spark.engine.pruning", None, "prune_files", "pruning.prune_files"),
    ("seafowl_spark.streaming.sync", "SyncWriter", "enqueue", "sync.enqueue"),
    ("seafowl_spark.streaming.sync", "SyncWriter", "flush", "sync.flush"),
    # one probe plan per (table, index, k) group: ``lookup`` for a single
    # call, ``lookup_many`` for a batch
    ("seafowl_spark.engine.search_index", None, "lookup", "search_index.lookup"),
    ("seafowl_spark.engine.search_index", None, "lookup_many", "search_index.lookup"),
]

# layer of a span name: the prefix before the first dot, except these
LAYER_OF_PREFIX = {
    "op": "client",
    "server": "frontend",
    "pgwire": "frontend",
    "flight": "frontend",
    "pruning": "deltalite",
}


def layer_of(name: str) -> str:
    prefix = name.split(".", 1)[0]
    return LAYER_OF_PREFIX.get(prefix, prefix)


@dataclass
class Span:
    id: int
    parent: int | None
    op: int | None
    name: str
    start: float  # epoch seconds
    end: float


class Tracer:
    """In-memory span store plus the wrappers that feed it."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: dict[str, int] = defaultdict(int)
        self.bytes_out = 0
        self.pruned = [0, 0]  # files kept, files considered
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op: tuple[int, int] | None = None  # (op id, root span id)
        self._undo: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        op = self._op
        parent = stack[-1] if stack else (op[1] if op else None)
        sid = next(self._ids)
        stack.append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, parent, op[0] if op else None, name, start, end))

    @contextmanager
    def op(self, kind: str):
        """Root span of one client operation; spans on any thread until it
        ends belong to it."""
        sid = next(self._ids)
        self._op = (sid, sid)
        start = time.time()
        try:
            yield sid
        finally:
            end = time.time()
            self._op = None
            with self._lock:
                self.spans.append(Span(sid, None, sid, f"op.{kind}", start, end))

    def count(self, name: str, n: int = 1) -> None:
        if self._op is not None:
            with self._lock:
                self.counts[name] += n

    # ------------------------------------------------------------ wrappers

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                result = fn(*args, **kwargs)
            if name == "pruning.prune_files":
                tracer.pruned[0] += len(result)
                tracer.pruned[1] += len(args[0])
            return result

        return wrapper

    def _patch(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def install(self) -> None:
        for mod_name, owner_name, attr, span_name in WRAPPED:
            mod = importlib.import_module(mod_name)
            owner = getattr(mod, owner_name) if owner_name else mod
            self._patch(owner, attr, self._wrap(getattr(owner, attr), span_name))
        self._install_counters()

    def _install_counters(self) -> None:
        tracer = self
        from seafowl_spark.engine import catalog, server

        # every public Catalog method is one catalog call
        for attr, fn in list(vars(catalog.Catalog).items()):
            if inspect.isfunction(fn) and not attr.startswith("_"):
                self._patch(catalog.Catalog, attr, _counting(fn, tracer, "catalog.calls"))
        send = server.SeafowlHandler._send

        def counting_send(handler, code, body=b"", headers=None):
            with tracer._lock:
                tracer.bytes_out += len(body)
            return send(handler, code, body, headers)

        self._patch(server.SeafowlHandler, "_send", counting_send)
        # py4j: one command sent to the JVM is one call
        for mod_name, cls_name in (
            ("py4j.clientserver", "ClientServerConnection"),
            ("py4j.java_gateway", "GatewayConnection"),
        ):
            cls = getattr(importlib.import_module(mod_name), cls_name)
            self._patch(cls, "send_command", _counting(cls.send_command, tracer, "py4j.calls"))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, old = self._undo.pop()
            setattr(owner, attr, old)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def _counting(fn, tracer: Tracer, name: str):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        tracer.count(name)
        return fn(*args, **kwargs)

    return wrapper


# ---------------------------------------------------------------- analysis


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - _covered(children.get(s.id, []), s.start, s.end)
        for s in spans
    }


def innermost_open(spans: list[Span], t: float) -> Span | None:
    """The shortest span open at time ``t`` (the innermost, since spans of
    one client operation nest)."""
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.end - s.start < best.end - best.start):
            best = s
    return best


# ---------------------------------------------------------------- event log


@dataclass
class SparkJob:
    id: int
    submit: float  # epoch seconds
    end: float
    stages: list[int]


def read_event_log(log_dir: str) -> dict:
    """Jobs, per-stage task totals and scan file counts from Spark's
    uncompressed JSON event log (the same source tools/profile_jobs.py
    reads)."""
    jobs: dict[int, SparkJob] = {}
    stage_tasks: dict[int, int] = defaultdict(int)
    stage_task_ms: dict[int, float] = defaultdict(float)
    stage_shuffle: dict[int, int] = defaultdict(int)
    exec_time: dict[int, float] = {}  # SQL execution id -> start (epoch s)
    files_metric: dict[int, int] = {}  # scan's files-read accumulator -> execution
    accum: dict[int, int] = {}

    def scan_plan(node: dict, execution: int) -> None:
        if "Scan" in node.get("nodeName", ""):
            for m in node.get("metrics", []):
                if m.get("name") == "number of files read":
                    files_metric[m["accumulatorId"]] = execution
        for child in node.get("children", []):
            scan_plan(child, execution)

    # Spark 4 rolls the log into eventlog_v2_<app>/events_<n>_<app> files
    paths = [
        os.path.join(d, f)
        for d, _, files in os.walk(log_dir)
        for f in files
        if f.startswith("events_")
    ]
    paths.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
    for path in paths:
        with open(path, errors="replace") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = SparkJob(
                        ev["Job ID"], ev["Submission Time"] / 1000.0,
                        ev["Submission Time"] / 1000.0, list(ev.get("Stage IDs", [])),
                    )
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    tm = ev.get("Task Metrics") or {}
                    stage_tasks[sid] += 1
                    stage_task_ms[sid] += tm.get("Executor Run Time", 0)
                    sw = tm.get("Shuffle Write Metrics") or {}
                    stage_shuffle[sid] += sw.get("Shuffle Bytes Written", 0)
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    exec_time[ev["executionId"]] = ev["time"] / 1000.0
                    scan_plan(ev.get("sparkPlanInfo") or {}, ev["executionId"])
                elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    scan_plan(ev.get("sparkPlanInfo") or {}, ev["executionId"])
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc_id, value in ev.get("accumUpdates", []):
                        accum[acc_id] = value
    return {
        "jobs": sorted(jobs.values(), key=lambda j: j.submit),
        "stage_tasks": stage_tasks,
        "stage_task_ms": stage_task_ms,
        "stage_shuffle": stage_shuffle,
        # (execution start, files read) per file scan that reported a count
        "scans": [(exec_time.get(e, 0.0), accum[a]) for a, e in files_metric.items() if a in accum],
    }
