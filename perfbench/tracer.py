"""Span tracer for the benchmark's traced run.

Spans are recorded around calls into the package's layers by wrappers
installed from the benchmark's own files (``Tracer.patch``); nothing in
the package is edited. Each span records its name, start, end, thread,
parent and the job tag the benchmark set while it ran. The parent is the
innermost open span on the calling thread; work handed to a
``ThreadPoolExecutor`` inherits the span that submitted it, so a child
running on a pool thread still belongs to its caller.

Each span also sets the Spark job group (``spark.jobGroup.id``, a
per-thread local property) to its own id for the jobs it issues and
restores the caller's group on exit. ``fold_event_log`` later reads
Spark's event log and charges every job, stage and task to the span
whose id was the job group when the job was submitted.
"""

from __future__ import annotations

import concurrent.futures
import functools
import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"
GROUP_PREFIX = "pb"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    tag: object
    thread: int
    t0: float
    t1: float = 0.0  # set when the span closes
    spark: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"{GROUP_PREFIX}{self.sid}"


class Tracer:
    """``sc`` is anything with ``getLocalProperty``/``setLocalProperty``
    (a SparkContext); ``None`` records spans without job groups."""

    def __init__(self, sc=None, clock=time.perf_counter):
        self.sc = sc
        self.clock = clock
        self.spans: list[Span] = []
        self.tag = None  # the benchmark's job index while a job runs
        self.overhead_s: dict = {}  # tracer's own time, per tag
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    # --- recording ------------------------------------------------------

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def current(self) -> Span | None:
        stack = self._stack()
        return stack[-1] if stack else None

    def _set_group(self, group: str | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(GROUP_KEY, group)

    def _get_group(self) -> str | None:
        return None if self.sc is None else self.sc.getLocalProperty(GROUP_KEY)

    def _charge(self, tag, seconds: float) -> None:
        with self._lock:
            self.overhead_s[tag] = self.overhead_s.get(tag, 0.0) + seconds

    @contextmanager
    def span(self, name: str):
        h0 = self.clock()
        parent = self.current()
        tag = self.tag
        s = Span(
            sid=next(self._ids),
            name=name,
            parent=None if parent is None else parent.sid,
            tag=tag,
            thread=threading.get_ident(),
            t0=h0,
        )
        outer_group = self._get_group()
        self._set_group(s.group)
        stack = self._stack()
        stack.append(s)
        s.t0 = self.clock()
        try:
            yield s
        finally:
            s.t1 = self.clock()
            stack.pop()
            self._set_group(outer_group)
            with self._lock:
                self.spans.append(s)
            self._charge(tag, (s.t0 - h0) + (self.clock() - s.t1))

    def wrap(self, fn, name: str, on_result=None):
        """``fn`` inside a span named ``name``; ``on_result(tag, args,
        result)`` sees each call's arguments and result."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            tag = self.tag
            with self.span(name):
                result = fn(*args, **kwargs)
            if on_result is not None:
                on_result(tag, args, result)
            return result

        return traced

    def bind(self, fn):
        """Run ``fn`` (on whatever thread) as if inside the span that is
        current now: its spans get that parent, its jobs that group."""
        parent = self.current()
        if parent is None:
            return fn

        @functools.wraps(fn)
        def bound(*args, **kwargs):
            h0 = self.clock()
            stack = self._stack()
            outer_group = self._get_group()
            stack.append(parent)
            self._set_group(parent.group)
            h1 = self.clock()
            try:
                return fn(*args, **kwargs)
            finally:
                h2 = self.clock()
                stack.pop()
                self._set_group(outer_group)
                self._charge(parent.tag, (h1 - h0) + (self.clock() - h2))

        return bound

    # --- installing wrappers -------------------------------------------

    def patch(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` (a module-level name a caller binds, or
        a method on a class) with a traced wrapper named ``name``."""
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        self._patches.append((owner, attr, original))
        setattr(owner, attr, self.wrap(original, name, on_result))

    def propagate_thread_pools(self) -> None:
        """Make ``ThreadPoolExecutor.submit`` carry the submitting span
        to the pool thread (the samplers overlap legs on pool threads)."""
        cls = concurrent.futures.ThreadPoolExecutor
        original = cls.__dict__["submit"]
        tracer = self

        def submit(pool, fn, /, *args, **kwargs):
            return original(pool, tracer.bind(fn), *args, **kwargs)

        self._patches.append((cls, "submit", original))
        cls.submit = submit

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    # --- analysis -------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Span duration minus the union of its children's intervals
        (clipped to the span), wherever the children ran."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, reach = 0.0, s.t0
            for c in sorted(children.get(s.sid, []), key=lambda c: c.t0):
                lo, hi = max(c.t0, reach), min(c.t1, s.t1)
                if hi > lo:
                    covered += hi - lo
                    reach = hi
            out[s.sid] = (s.t1 - s.t0) - covered
        return out


# --- Spark event log --------------------------------------------------


def read_event_log(log_dir: str) -> list[dict]:
    """Events of every application log under ``log_dir`` (plain JSON
    lines; the benchmark disables compression and rolling)."""
    events = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if os.path.isfile(path):
            with open(path) as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
    return events


def fold_event_log(tracer: Tracer, events: list[dict]) -> int:
    """Attach Spark work to the span that issued it. Sets on each span's
    ``spark`` dict: jobs, busy_s (summed task executor run time),
    shuffle_mb (shuffle bytes written), rows_in (input plus shuffle
    records read) and the per-stage task run times (``stage_ms``, used
    for skew). Returns the number of jobs attributed to a span."""
    by_group = {s.group: s for s in tracer.spans}
    stage_span: dict[int, Span] = {}
    attributed = 0
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            s = by_group.get((e.get("Properties") or {}).get(GROUP_KEY))
            if s is None:
                continue
            attributed += 1
            s.spark["jobs"] = s.spark.get("jobs", 0) + 1
        elif kind == "SparkListenerStageSubmitted":
            # a stage runs in the job that submits it, which need not be
            # the first job that listed it
            s = by_group.get((e.get("Properties") or {}).get(GROUP_KEY))
            if s is not None:
                stage_span[e["Stage Info"]["Stage ID"]] = s
        elif kind == "SparkListenerTaskEnd":
            s = stage_span.get(e.get("Stage ID"))
            m = e.get("Task Metrics")
            if s is None or not m:
                continue
            run_ms = m.get("Executor Run Time", 0)
            sp = s.spark
            sp["busy_s"] = sp.get("busy_s", 0.0) + run_ms / 1000.0
            sw = m.get("Shuffle Write Metrics") or {}
            sp["shuffle_mb"] = sp.get("shuffle_mb", 0.0) + sw.get(
                "Shuffle Bytes Written", 0
            ) / 1e6
            sr = m.get("Shuffle Read Metrics") or {}
            im = m.get("Input Metrics") or {}
            sp["rows_in"] = (
                sp.get("rows_in", 0)
                + im.get("Records Read", 0)
                + sr.get("Total Records Read", 0)
            )
            sp.setdefault("stage_ms", {}).setdefault(e["Stage ID"], []).append(run_ms)
    return attributed


def skew(stage_ms: dict[int, list[int]]) -> float:
    """Max over median task run time in the stage with the most summed
    run time (1 ms floor on the median); 0 with no tasks."""
    if not stage_ms:
        return 0.0
    tasks = max(stage_ms.values(), key=sum)
    return max(tasks) / max(statistics.median(tasks), 1.0)
