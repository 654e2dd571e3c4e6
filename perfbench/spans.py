"""Spans and work counters for the traced benchmark run.

Every span is recorded from the benchmark's side of the engine boundary:
either around a call site in workloads.py, or by a wrapper installed over
a module attribute that the engine looks up at call time
(``planner.choose_topk_path`` and ``planner.wand_topk``, both reached
from ``planner.topk_rows``). Nothing under ``nexlt_spark/`` is edited.

A span records name, start, end, parent span and request id. Spans are
kept in memory and written out as JSON lines when the run ends. A span's
self time is its duration minus its children's: children of one span run
on the caller's thread, one after another, so their durations never
overlap (workloads.layer_metrics takes a query's self time outside the
layer spans this way).

Three work counters ride along, all per calling thread:

- py4j round-trips: a wrapper over ``send_command`` of py4j's two
  connection classes (pyspark 4.1 talks through
  ``py4j.clientserver.ClientServerConnection``);
- Spark jobs: each traced operation runs under its own job group, read
  back through ``statusTracker().getJobIdsForGroup``;
- the engine's own ``stats_out`` dict, which the workloads pass in.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import nullcontext

_NULL = nullcontext()


class _Span:
    __slots__ = ("tracer", "name", "req", "sid", "parent", "start")

    def __init__(self, tracer: "Tracer", name: str, req):
        self.tracer = tracer
        self.name = name
        self.req = req

    def __enter__(self):
        tls = self.tracer._tls
        stack = getattr(tls, "stack", None)
        if stack is None:
            stack = tls.stack = []
        if self.req is None:
            self.req = getattr(tls, "req", None)
        else:
            tls.req = self.req
        self.parent = stack[-1] if stack else None
        self.sid = next(self.tracer._ids)
        stack.append(self.sid)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        tls = self.tracer._tls
        tls.stack.pop()
        if not tls.stack:
            tls.req = None
        # list.append is atomic under the interpreter lock
        self.tracer.spans.append(
            (self.sid, self.name, self.start, end, self.parent, self.req)
        )
        return False


class Tracer:
    """In-memory span store. Disabled, ``span`` costs one attribute test."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list = []  # (id, name, start, end, parent, request)
        self._ids = itertools.count(1)
        self._tls = threading.local()

    def span(self, name: str, req=None):
        return _Span(self, name, req) if self.enabled else _NULL

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for sid, name, start, end, parent, req in self.spans:
                fh.write(
                    json.dumps(
                        {"id": sid, "name": name, "start": start, "end": end,
                         "parent": parent, "req": req}
                    )
                    + "\n"
                )

    def by_request(self) -> dict:
        """request id → {span name: [durations in s]}."""
        out: dict = {}
        for _sid, name, start, end, _parent, req in self.spans:
            if req is not None:
                out.setdefault(req, {}).setdefault(name, []).append(end - start)
        return out


class Py4jCounter:
    """Per-thread count of py4j round-trips (one per ``send_command``)."""

    def __init__(self) -> None:
        self._tls = threading.local()
        self._saved: dict = {}

    def install(self) -> None:
        from py4j import clientserver, java_gateway

        tls = self._tls
        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            orig = cls.__dict__["send_command"]
            self._saved[cls] = orig

            def counted(conn, *args, _orig=orig, **kwargs):
                tls.n = getattr(tls, "n", 0) + 1
                return _orig(conn, *args, **kwargs)

            cls.send_command = counted

    def uninstall(self) -> None:
        for cls, orig in self._saved.items():
            cls.send_command = orig
        self._saved.clear()

    def count(self) -> int:
        return getattr(self._tls, "n", 0)


class JobGroups:
    """Spark jobs per operation under concurrency: each operation runs in
    its own job group (a thread-local property on the calling thread's
    pinned JVM thread), counted afterwards through the status tracker."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self._ids = itertools.count()

    def begin(self) -> str:
        gid = f"perfbench-{next(self._ids)}"
        self.sc.setJobGroup(gid, "perfbench")
        return gid

    def end(self, gid: str) -> int:
        n = len(self.sc.statusTracker().getJobIdsForGroup(gid))
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        return n


class LayerTrace:
    """Tracing switched on and off between measurement chunks, so one
    traced run also measures itself untraced (its overhead)."""

    def __init__(self, spark) -> None:
        self.tracer = Tracer()
        self.py4j = Py4jCounter()
        self.jobs = JobGroups(spark.sparkContext)
        self._restore: list = []

    @property
    def on(self) -> bool:
        return self.tracer.enabled

    def activate(self) -> None:
        from nexlt_spark.query import planner
        from nexlt_spark.query.attrs import AttrFilter

        tracer = self.tracer
        choose, wand = planner.choose_topk_path, planner.wand_topk

        def choose_topk_path(*args, **kwargs):
            with tracer.span("planner.choose"):
                return choose(*args, **kwargs)

        def wand_topk(*args, **kwargs):
            attr = isinstance(kwargs.get("doc_filter"), AttrFilter)
            with tracer.span("wand.attr_topk" if attr else "wand.topk"):
                return wand(*args, **kwargs)

        planner.choose_topk_path = choose_topk_path
        planner.wand_topk = wand_topk
        self._restore = [("choose_topk_path", choose), ("wand_topk", wand)]
        self.py4j.install()
        tracer.enabled = True

    def deactivate(self) -> None:
        from nexlt_spark.query import planner

        self.tracer.enabled = False
        self.py4j.uninstall()
        for name, fn in self._restore:
            setattr(planner, name, fn)
        self._restore = []

    def switch(self, on: bool) -> None:
        if on and not self.on:
            self.activate()
        elif self.on and not on:
            self.deactivate()

    def span(self, name: str, req=None):
        return self.tracer.span(name, req)
