"""Per-layer tracing from the benchmark's own files.

The traced run wraps each layer's public functions at the place their
caller looks them up, records spans (name, start, end, parent, op id)
and counts in memory, and writes them out when the run ends. Nothing
in the program is edited: the wrappers are installed on module and
class attributes before the workload builds its callables.

A span opened on a thread with no open span of its own (the IPC
server's handler thread) takes the innermost open span of the client
thread as its parent, so server work nests under the request that
caused it. A layer's self time is its span's duration minus the part
of that interval its child spans cover.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# Catalyst phases, as QueryExecution.tracker() names them
PHASES = ("analysis", "optimization", "planning")


class Tracer:
    def __init__(self):
        self.on = False          # spans are recorded only while on
        self.op = -1             # id of the op in flight
        self.spans: list[list] = []   # [name, t0, t1, parent, op]
        self.counts: dict[str, float] = defaultdict(float)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._main = self._stack()
        self.epoch_offset = time.time() - time.perf_counter()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def top(self) -> str | None:
        st = self._stack() or self._main
        return self.spans[st[-1]][0] if st else None

    @contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        st = self._stack()
        parent = st[-1] if st else (self._main[-1] if self._main else None)
        with self._lock:
            idx = len(self.spans)
            self.spans.append([name, time.perf_counter(), None, parent,
                               self.op])
        st.append(idx)
        try:
            yield
        finally:
            st.pop()
            self.spans[idx][2] = time.perf_counter()

    def count(self, name: str, n: float = 1) -> None:
        if self.on:
            self.counts[name] += n

    def wrap(self, owner, attr: str, name: str, *, parent: str | None = None,
             after=None) -> None:
        """Replace ``owner.attr`` with a spanning wrapper. ``parent``
        limits the span to calls made directly under a span of that
        name (so a function the layer also calls internally is not
        double counted); ``after(args, kwargs, result)`` records counts."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            if not self.on or (parent is not None and self.top() != parent):
                return fn(*a, **kw)
            with self.span(name):
                out = fn(*a, **kw)
            if after is not None:
                after(a, kw, out)
            return out

        setattr(owner, attr, traced)

    # -- summaries ---------------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """Total self time per span name over finished spans."""
        kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for name, t0, t1, parent, _op in self.spans:
            if parent is not None and t1 is not None:
                kids[parent].append((t0, t1))
        out: dict[str, float] = defaultdict(float)
        for i, (name, t0, t1, _p, _op) in enumerate(self.spans):
            if t1 is None:
                continue
            covered, end = 0.0, t0
            for a, b in sorted(kids.get(i, ())):
                a, b = max(a, end), min(b, t1)
                if b > a:
                    covered += b - a
                    end = b
            out[name] += (t1 - t0) - covered
        return out

    def jobs_self(self, submit_ms: list[int]) -> dict[str, int]:
        """Spark jobs per span name, each job counted in the innermost
        span open at its submission time."""
        out: dict[str, int] = defaultdict(int)
        done = [(t0, t1, name) for name, t0, t1, _p, _o in self.spans
                if t1 is not None]
        for ms in submit_ms:
            t = ms / 1000 - self.epoch_offset
            inner = max(((t0, name) for t0, t1, name in done if t0 <= t < t1),
                        default=None)
            if inner is not None:
                out[inner[1]] += 1
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for name, t0, t1, parent, op in self.spans:
                f.write(json.dumps({"name": name, "start": t0, "end": t1,
                                    "parent": parent, "op": op}) + "\n")
            f.write(json.dumps({"counts": dict(self.counts)}) + "\n")


class SparkPhases:
    """Catalyst phase times of every query execution that finishes while
    ``on``, from a QueryExecutionListener served over the py4j callback
    server (listener events arrive asynchronously; call ``drain``
    before reading)."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.on = False
        self.ms = defaultdict(float)
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (JVM API)
        if not self.on:
            return
        phases = qe.tracker().phases()
        for p in PHASES:
            opt = phases.get(p)
            if opt.isDefined():
                self.ms[p] += opt.get().durationMs()

    def onFailure(self, func_name, qe, exc):  # noqa: N802 (JVM API)
        pass

    def drain(self) -> None:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def spark_work(spark, since_ms: int, until_ms: int) -> dict:
    """Jobs, tasks and shuffle bytes of the jobs and stages submitted in
    [since_ms, until_ms), read from the driver's status store, and the
    jobs' submission times."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway

    def submitted(opt) -> int | None:
        if opt.isDefined():
            ms = opt.get().getTime()
            if since_ms <= ms < until_ms:
                return ms
        return None

    out = {"job_submit_ms": [], "tasks": 0, "shuffle_bytes": 0}
    it = store.jobsList(None).iterator()
    while it.hasNext():
        ms = submitted(it.next().submissionTime())
        if ms is not None:
            out["job_submit_ms"].append(ms)
    it = store.stageList(None, False, False,
                         gw.new_array(gw.jvm.double, 0), None).iterator()
    while it.hasNext():
        s = it.next()
        if submitted(s.submissionTime()) is not None:
            out["tasks"] += s.numTasks()
            out["shuffle_bytes"] += s.shuffleWriteBytes()
    return out
