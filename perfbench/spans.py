"""Outside-in tracing for the benchmark's traced run.

Spans are recorded only from the benchmark's side of each layer boundary:
the public calls it makes (``get_spark``, a query's ``fn()``, its write)
and three public functions that queries call into, wrapped in place:
``sources.io.load_table``, ``session.stage_checkpoint`` and
``streaming.ops.run_to_memory``.
Spark jobs and stages become child spans by reading Spark's own status
store after each query, by job-ID window (driver thread pools do not
inherit the job group, so groups cannot attribute them).

Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import importlib
import json
import re
import sys
import threading
import time
from contextlib import contextmanager

PACKAGE = "map_reduce_framework_spark"

#: (module, function, span name) wrapped while tracing
WRAPPED = [
    ("session", "stage_checkpoint", "session.stage_checkpoint"),
    ("sources.io", "load_table", "sources.io.load_table"),
    ("streaming.ops", "run_to_memory", "streaming.ops.run_to_memory"),
]


class Tracer:
    """Span store. A span is ``{id, parent, name, start, end, attrs}`` with
    epoch-second times, so Spark's millisecond timestamps line up with
    them. Spans opened on threads the benchmark did not start (engine
    thread pools) take the current query span as parent."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.active = False
        self._lock = threading.Lock()
        self._local = threading.local()
        self.query_span: int | None = None

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def add(self, name, start, end, parent, **attrs) -> int:
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                {"id": sid, "parent": parent, "name": name,
                 "start": start, "end": end, "attrs": attrs}
            )
        return sid

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else self.query_span
        sid = self.add(name, time.time(), None, parent, **attrs)
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            self.spans[sid]["end"] = time.time()

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        traced.__name__ = fn.__name__
        traced.__doc__ = fn.__doc__
        return traced

    def install(self) -> None:
        """Wrap the functions in WRAPPED wherever the engine's modules
        bound them. Call before importing ``registry``: five operator
        modules bind ``stage_checkpoint`` at import time. Call again
        after importing it, to rebind names imported since."""
        for mod_name, fn_name, span_name in WRAPPED:
            mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
            current = getattr(mod, fn_name)
            orig = getattr(current, "__wrapped__", current)
            traced = current if current is not orig else self.wrap(span_name, orig)
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith(PACKAGE):
                    for attr, val in list(vars(m).items()):
                        if val is orig:
                            setattr(m, attr, traced)

    def dump(self, path: str, meta: dict) -> None:
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": self.spans}, f)


# ---------------------------------------------------------------------------
# Spark's status stores, read from outside the engine
# ---------------------------------------------------------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Value of one formatted SQL metric (``"1.2 s"``, ``"364.0 B"``,
    ``"1,000"``, or ``"total (min, med, max ...)\\n508 ms (...)"``) in
    base units: seconds, bytes or a plain count."""
    line = text.split("\n")[-1]
    m = _VALUE.match(line)
    if not m:
        raise ValueError(f"unparseable SQL metric value: {text!r}")
    num, unit = float(m.group(1).replace(",", "")), m.group(2)
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME:
        return num * _TIME[unit]
    if unit == "":
        return num
    raise ValueError(f"unknown unit {unit!r} in SQL metric {text!r}")


class StatusReader:
    """Reads Spark's ``AppStatusStore`` (jobs, stages, storage) and the
    SQL ``statusStore`` (per-execution plan metrics) through the py4j
    gateway, one JSON document per object. Call ``mark()`` before a
    query and ``collect()`` after it: everything with an ID at or past
    the mark belongs to that query. Reading right after each query keeps
    the window inside Spark's 1000-entry retention."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self.store = sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = jvm.com.fasterxml.jackson.module.scala
        self.mapper.registerModule(
            getattr(getattr(scala, "DefaultScalaModule$"), "MODULE$")
        )
        self.empty = sc._gateway.new_array(jvm.double, 0)
        self.next_job = 0
        self.next_exec = 0
        self.mark()

    def _json(self, obj):
        return json.loads(self.mapper.writeValueAsString(obj))

    def _new_jobs(self) -> list[dict]:
        jobs = self._json(self.store.jobsList(None))
        return sorted((j for j in jobs if j["jobId"] >= self.next_job),
                      key=lambda j: j["jobId"])

    def _execution(self, exec_id: int) -> dict | None:
        opt = self.sql_store.execution(exec_id)
        if not opt.isDefined():
            return None
        return {
            "id": exec_id,
            "metrics": self._json(opt.get().metrics()),
            "values": self._json(self.sql_store.executionMetrics(exec_id)),
        }

    def mark(self) -> None:
        """Start a new window: skip everything recorded so far."""
        jobs = self._new_jobs()
        if jobs:
            self.next_job = jobs[-1]["jobId"] + 1
        # SQL execution IDs are JVM-wide, not per SparkContext: start
        # past the newest one this session's store holds
        n = self.sql_store.executionsCount()
        if n:
            last = self.sql_store.executionsList(n - 1, 1).apply(0).executionId()
            self.next_exec = max(self.next_exec, last + 1)

    def collect(self) -> dict:
        """Jobs (with their stage attempts) and SQL executions since the
        last ``mark``/``collect``."""
        jobs = self._new_jobs()
        if jobs:
            self.next_job = jobs[-1]["jobId"] + 1
        stages: dict[int, list[dict]] = {}
        for job in jobs:
            for sid in job["stageIds"]:
                if sid not in stages:
                    stages[sid] = self._json(
                        self.store.stageData(sid, False, None, False, self.empty)
                    )
        execs = []
        while (ex := self._execution(self.next_exec)) is not None:
            execs.append(ex)
            self.next_exec += 1
        return {"jobs": jobs, "stages": stages, "executions": execs}

    def cached_bytes(self) -> int:
        rdds = self._json(self.store.rddList(True))
        return sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in rdds)
