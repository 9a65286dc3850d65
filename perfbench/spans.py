"""Spans, layer wrappers and Spark job/task counters for the traced run.

Spans are recorded from the benchmark side only: :func:`instrument`
replaces a package function at the module attribute where its callers look
it up, so no package file changes. Each span records name, layer, start,
end, parent and request id; spans stay in memory and are written once when
the run ends.

Spark's work is lazy, so a span covers the Python-side plan building plus
whatever action runs inside it. The benchmark forces each batch stage's
output inside the stage's span, so stage spans cover their execution.
"""

from __future__ import annotations

import functools
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    request: int | None = None
    children_s: float = 0.0

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.children_s


@dataclass
class Tracer:
    """In-memory span recorder; a disabled tracer records nothing and its
    wrappers are never installed."""

    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def set_request(self, rid: int | None) -> None:
        self._local.request = rid

    def span(self, name: str, layer: str):
        return _SpanCtx(self, name, layer)

    def _open(self, name: str, layer: str) -> int:
        st = self._stack()
        sp = Span(name, layer, time.perf_counter(), parent=st[-1] if st else None,
                  request=getattr(self._local, "request", None))
        with self._lock:
            self.spans.append(sp)
            idx = len(self.spans) - 1
        st.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        sp = self.spans[idx]
        sp.end = time.perf_counter()
        self._stack().pop()
        if sp.parent is not None:
            self.spans[sp.parent].children_s += sp.end - sp.start


class _SpanCtx:
    __slots__ = ("tracer", "name", "layer", "idx")

    def __init__(self, tracer: Tracer, name: str, layer: str):
        self.tracer, self.name, self.layer = tracer, name, layer

    def __enter__(self):
        self.idx = self.tracer._open(self.name, self.layer) if self.tracer.enabled else None
        return self

    def __exit__(self, *exc):
        if self.idx is not None:
            self.tracer._close(self.idx)
        return False


def instrument(tracer: Tracer, module, names, layer: str) -> None:
    """Wrap ``module.<name>`` for each name with a span of ``layer``.

    Patch the module the CALLER resolves the name in: a function imported
    with ``from x import f`` is looked up in the importing module.
    """
    if not tracer.enabled:
        return
    for name in names:
        fn = getattr(module, name)
        if getattr(fn, "__perfbench_wrapped__", False):
            continue
        span_name = f"{layer}.{name}"

        @functools.wraps(fn)
        def wrapper(*a, __fn=fn, __n=span_name, **kw):
            with tracer.span(__n, layer):
                return __fn(*a, **kw)

        wrapper.__perfbench_wrapped__ = True
        setattr(module, name, wrapper)


class SparkCounter:
    """Counts Spark jobs, completed tasks and failed tasks per job group
    through ``statusTracker()`` (works with the UI disabled). Completed
    tasks are summed over stages that ran, so skipped stages count zero."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._n = 0
        self._lock = threading.Lock()

    def group(self, label: str) -> str:
        with self._lock:
            self._n += 1
            gid = f"pb-{self._n}-{label}"
        self.sc.setJobGroup(gid, label)
        return gid

    def counts(self, gid: str) -> tuple[int, int, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(gid)
        tasks = failed = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                si = st.getStageInfo(sid)
                if si is not None:
                    tasks += si.numCompletedTasks
                    failed += si.numFailedTasks
        return len(jobs), tasks, failed
