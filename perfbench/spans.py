"""Spans around calls into the engine's layers, for the traced run only.

A span has a name, start, end, parent span and operation id.  Each span
sets its own Spark job group for the duration of the call, so the jobs
(and, through ``eventlog.py``, the task metrics) it launched can be
attributed to it; job ids are read from ``statusTracker`` as soon as
the call returns, before the tracker's job retention can drop them.

``patch_layers`` wraps the public functions where their callers look
them up (module globals of ``pipeline.medallion``, the ``TableStore``
class, ``plans.corpusq.ingest_batch``).  Untraced runs never call it,
so they run unpatched code.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"

#: medallion functions the runner and stages look up as module globals
MEDALLION_STAGES = [
    "validate_bronze", "load_bronze", "run_silver", "scd2_dim_customer",
    "scd2_dim_merchant", "build_static_dims", "build_dim_date", "build_fact",
    "write_job_control", "read_watermark", "run_incremental",
]
#: the dimension stages ``run_incremental`` runs from driver threads
GOLD_TIER = ["scd2_dim_customer", "scd2_dim_merchant", "build_static_dims",
             "build_dim_date"]
STORAGE_METHODS = ["append", "overwrite", "upsert", "read", "count",
                   "update_matched", "delete_matched"]


@dataclass
class Span:
    sid: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    group: str = ""
    jobs: list = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder for one client thread plus the helper
    threads the engine starts on its behalf."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._client = threading.get_ident()
        self._client_stack: list[Span] = []
        self._op = 0

    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._client:
            return self._client_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def in_span(self, prefix: str) -> bool:
        stack = self._stack()
        return bool(stack) and stack[-1].name.startswith(prefix)

    @contextmanager
    def span(self, name: str, op: bool = False):
        stack = self._stack()
        if op:
            self._op += 1
        # a helper thread's first span hangs under the client's open span
        parent = stack[-1] if stack else (
            self._client_stack[-1] if self._client_stack else None
        )
        s = Span(next(self._ids), name, self._op,
                 parent.sid if parent else None, time.perf_counter())
        s.group = f"perfbench-{s.sid}"
        prev = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, s.group)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.jobs = list(self.sc.statusTracker().getJobIdsForGroup(s.group))
            stack.pop()
            self.sc.setLocalProperty(GROUP_KEY, prev)
            with self._lock:
                self.spans.append(s)

    def wrap(self, name: str, fn, skip_nested: str | None = None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if skip_nested and self.in_span(skip_nested):
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


def patch_layers(tracer: Tracer) -> list[tuple[object, str, object]]:
    """Install span wrappers; returns what ``unpatch`` needs to undo it.

    ``TableStore`` methods call one another; only the outermost call
    gets a span, so ``storage.<method>_calls`` counts calls made into
    the store from outside it."""
    from delta_lake_gcp_implementation_spark.pipeline import medallion
    from delta_lake_gcp_implementation_spark.pipeline.storage import TableStore
    from delta_lake_gcp_implementation_spark.plans import corpusq

    patched = []

    def put(owner, attr, name, skip_nested=None):
        orig = getattr(owner, attr)
        patched.append((owner, attr, orig))
        setattr(owner, attr, tracer.wrap(name, orig, skip_nested))

    for stage in MEDALLION_STAGES:
        put(medallion, stage, f"medallion.{stage}")
    for method in STORAGE_METHODS:
        put(TableStore, method, f"storage.{method}", skip_nested="storage.")
    put(corpusq, "ingest_batch", "corpus.ingest_batch")
    return patched


def unpatch(patched) -> None:
    for owner, attr, orig in reversed(patched):
        setattr(owner, attr, orig)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the union of its children's intervals
    (children on helper threads may overlap each other)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(s.sid, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.sid] = s.duration - covered
    return out


def descendants(spans: list[Span]) -> dict[int, list[Span]]:
    """sid -> the span itself plus every span below it."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}

    def walk(s):
        if s.sid not in out:
            acc = [s]
            for c in kids.get(s.sid, []):
                acc.extend(walk(c))
            out[s.sid] = acc
        return out[s.sid]

    for s in spans:
        walk(s)
    return out
