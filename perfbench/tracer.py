"""Per-layer tracing from outside the engine.

A :class:`Tracer` wraps public engine methods in the benchmark's own
process, gives every wrapped call its own Spark job group
(``<layer>#<n>``) and counts that group's jobs with Spark's
``StatusTracker``.  It also registers a ``StreamingQueryListener``.
An inactive tracer installs nothing, so untraced runs execute the
engine untouched.
"""

from __future__ import annotations

import contextlib
import itertools
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

GROUP_PROP = "spark.jobGroup.id"


@dataclass
class Call:
    start: float
    dur: float
    jobs: int
    args: tuple = ()
    result: object = None
    inner_s: float = 0.0  # time spent in nested calls of the ``inner`` layer


@dataclass
class Progress:
    at: float
    name: str | None
    input_rows: int
    duration_ms: dict
    state_rows: int
    state_bytes: int


class _Listener(StreamingQueryListener):
    def __init__(self, sink: list):
        self._sink = sink

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        ops = p.stateOperators or []
        self._sink.append(
            Progress(
                at=time.perf_counter(),
                name=p.name,
                input_rows=p.numInputRows,
                duration_ms=dict(p.durationMs or {}),
                state_rows=sum(o.numRowsTotal for o in ops),
                state_bytes=sum(o.memoryUsedBytes for o in ops),
            )
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


@dataclass
class Tracer:
    spark: object
    active: bool
    calls: dict = field(default_factory=lambda: defaultdict(list))
    progress: list = field(default_factory=list)

    def __post_init__(self):
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._undo: list = []
        self._listener = None

    # -- job groups ------------------------------------------------------ #

    @contextlib.contextmanager
    def group(self, layer: str, *, args: tuple = (), inner: str | None = None):
        """Time the body as one call of ``layer`` under its own job
        group; yields a dict whose ``"result"`` the body may set.
        ``inner`` names a layer whose nested calls' time is summed
        into :attr:`Call.inner_s`."""
        holder: dict = {}
        if not self.active:
            yield holder
            return
        sc = self.spark.sparkContext
        gid = f"{layer}#{next(self._ids)}"
        prev = sc.getLocalProperty(GROUP_PROP)
        sc.setLocalProperty(GROUP_PROP, gid)
        saved_inner = getattr(self._tls, "inner", None)
        if inner is not None:
            self._tls.inner = [inner, 0.0]
        t0 = time.perf_counter()
        try:
            yield holder
        finally:
            dur = time.perf_counter() - t0
            sc.setLocalProperty(GROUP_PROP, prev)
            inner_s = self._tls.inner[1] if inner is not None else 0.0
            self._tls.inner = saved_inner
            if saved_inner is not None and saved_inner[0] == layer:
                saved_inner[1] += dur
            jobs = len(sc.statusTracker().getJobIdsForGroup(gid))
            call = Call(t0, dur, jobs, args, holder.get("result"), inner_s)
            with self._lock:
                self.calls[layer].append(call)

    def wrap(self, owner, attr: str, layer: str, *, inner: str | None = None) -> None:
        """Replace ``owner.attr`` by a traced twin for the tracer's life."""
        if not self.active:
            return
        fn = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.group(layer, args=args[1:], inner=inner) as h:
                h["result"] = fn(*args, **kwargs)
            return h["result"]

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, fn))

    # -- lifecycle ------------------------------------------------------- #

    def start(self) -> None:
        if self.active:
            self._listener = _Listener(self.progress)
            self.spark.streams.addListener(self._listener)

    def stop(self) -> None:
        for owner, attr, fn in reversed(self._undo):
            setattr(owner, attr, fn)
        self._undo.clear()
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    def layer(self, name: str, since: float = 0.0, until: float = float("inf")) -> list[Call]:
        """Calls of layer ``name`` that started in ``[since, until)``."""
        with self._lock:
            return [c for c in self.calls.get(name, []) if since <= c.start < until]
