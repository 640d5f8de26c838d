"""Spans and Spark job counts around sparkdon's public entry points.

The engine is not edited: :func:`instrument` replaces module and class
attributes at run time with wrappers that open a span, and each span
runs its Spark jobs under a job group of its own, so the jobs and tasks
a layer starts are read back from ``statusTracker`` after the run.

Spans stay in memory (name, start, end, parent id, op id) until the run
ends; :meth:`Tracer.self_times` and :meth:`Tracer.per_op` then derive
self times and per-op figures.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import threading
import time

#: (module path, attribute holder, attribute, span name, counts jobs)
ENTRY_POINTS = [
    ("sparkdon.session", None, "parse_query", "algebra.parse", False),
    ("sparkdon.compile", "Compiler", "compile_select", "compile", True),
    ("sparkdon.compile", "Compiler", "compile_ask", "compile", True),
    ("sparkdon.paths", None, "eval_path", "paths", True),
    ("pyspark.sql.classic.dataframe", "DataFrame", "toPandas", "session.exec", True),
    ("sparkdon.session", "LocalEndpoint", "select", "session.select", False),
    ("sparkdon.session", "LocalEndpoint", "select_raw", "session.select", False),
    ("sparkdon.session", "LocalEndpoint", "ask", "session.ask", False),
    ("sparkdon.session", "LocalEndpoint", "update", "session.update", True),
    ("sparkdon.io", None, "read_ntriples", "io.ntriples_read", True),
    ("sparkdon.io", None, "write_triple_store", "io.store_write", True),
    ("sparkdon.io", None, "read_triple_store", "io.store_read", True),
]


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    # -- recording -----------------------------------------------------

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def op(self, op_id: str):
        """Mark the calls on this thread as belonging to op ``op_id``."""
        prev = getattr(self._local, "op", None)
        self._local.op = op_id
        try:
            yield
        finally:
            self._local.op = prev

    @contextlib.contextmanager
    def span(self, name: str, jobs: bool = False):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "parent": stack[-1]["id"] if stack else None,
               "op": getattr(self._local, "op", None), "group": None}
        if jobs:
            rec["group"] = f"perfbench-{sid}"
            self.sc.setJobGroup(rec["group"], name)
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if rec["group"] is not None:
                outer = next((s["group"] for s in reversed(stack) if s["group"]), None)
                if outer is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    self.sc.setJobGroup(outer, "")
            with self._lock:
                self.spans.append(rec)

    def wrap(self, fn, name: str, jobs: bool):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, jobs):
                return fn(*args, **kwargs)
        return traced

    # -- read-back -----------------------------------------------------

    def count_jobs(self) -> None:
        """Fill ``jobs``/``tasks`` on every span that had a job group."""
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(30000)
        except Exception:  # noqa: BLE001 — private API; fall back to a pause
            time.sleep(2.0)
        tracker = self.sc.statusTracker()
        for s in self.spans:
            s["jobs"] = s["tasks"] = 0
            if s["group"] is None:
                continue
            for jid in tracker.getJobIdsForGroup(s["group"]):
                s["jobs"] += 1
                info = tracker.getJobInfo(jid)
                for st in (info.stageIds if info else []):
                    stage = tracker.getStageInfo(st)
                    if stage is not None:
                        s["tasks"] += stage.numCompletedTasks

    def self_times(self) -> None:
        """``self`` = duration minus the time covered by child spans."""
        children: dict = {}
        for s in self.spans:
            children.setdefault(s["parent"], []).append(s)
        for s in self.spans:
            covered, cursor = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            s["self"] = (s["end"] - s["start"]) - covered

    def per_op(self) -> dict[str, dict[str, dict[str, float]]]:
        """op id -> layer name -> {self, jobs, tasks} summed over the op's spans."""
        out: dict = {}
        for s in self.spans:
            if s["op"] is None:
                continue
            layer = out.setdefault(s["op"], {}).setdefault(
                s["name"], {"self": 0.0, "jobs": 0, "tasks": 0, "n": 0})
            layer["self"] += s["self"]
            layer["jobs"] += s.get("jobs", 0)
            layer["tasks"] += s.get("tasks", 0)
            layer["n"] += 1
        return out


def instrument(tracer: Tracer) -> None:
    """Install the wrappers of :data:`ENTRY_POINTS` (once per process)."""
    import importlib

    for mod_name, holder, attr, name, jobs in ENTRY_POINTS:
        mod = importlib.import_module(mod_name)
        obj = getattr(mod, holder) if holder else mod
        setattr(obj, attr, tracer.wrap(getattr(obj, attr), name, jobs))

