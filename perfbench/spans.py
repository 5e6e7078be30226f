"""Span tracing from outside the program.

`Tracer.wrap(module, name, span)` replaces a module attribute (a public
function of one layer) with a wrapper that records a span: name, start,
end, parent span, the operation id of the batch or request it ran for,
and optionally the number of Spark jobs it launched. Module attributes
are the module's globals, so calls from inside the same module are
traced too. Spans stay in memory; `dump` writes them once at the end.

Tracing is switched per operation (`Tracer.op(..., traced=...)`), so one
run can alternate traced and untraced operations and report the
overhead as traced minus untraced end-to-end time.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import json
import statistics
import sys
import threading
import time
import traceback
from contextlib import contextmanager


class Span:
    __slots__ = ("name", "start", "end", "parent", "op", "jobs", "extra")

    def __init__(self, name, start, parent, op):
        self.name = name
        self.start = start
        self.end = None
        self.parent = parent
        self.op = op
        self.jobs = None
        self.extra = None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark=None):
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._tracker = spark.sparkContext.statusTracker() if spark is not None else None
        self._restore: list[tuple[object, str, object]] = []
        self._ids = itertools.count()
        #: whether threads with no operation context (e.g. the HTTP
        #: server's request threads) trace
        self.default_on = False
        self.hook_errors = 0

    # -- per-operation context ------------------------------------------

    @contextmanager
    def op(self, op_id, traced: bool = True):
        prev = getattr(self._local, "op", None), getattr(self._local, "on", False)
        self._local.op, self._local.on = op_id, traced
        try:
            yield
        finally:
            self._local.op, self._local.on = prev

    def enabled(self) -> bool:
        return getattr(self._local, "on", self.default_on)

    def max_job_id(self) -> int:
        ids = self._tracker.getJobIdsForGroup(None) if self._tracker else []
        return max(ids, default=-1)

    @contextmanager
    def span(self, name: str, jobs: bool = False):
        if not self.enabled():
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sp = Span(name, time.perf_counter(), stack[-1] if stack else None, self._local.op)
        j0 = self.max_job_id() if jobs else None
        stack.append(sp)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.perf_counter()
            if jobs:
                sp.jobs = self.max_job_id() - j0
            with self._lock:
                self.spans.append(sp)

    # -- instrumentation ------------------------------------------------

    def wrap(self, owner, attr: str, name: str, jobs: bool = False, after=None,
             new_op: bool = False):
        """Trace calls to owner.attr. `after(arguments, result)` may count
        what the call did; it gets the call's arguments by parameter
        name. With `new_op`, a call on a thread that has no operation
        context starts a new operation."""
        fn = getattr(owner, attr)
        sig = inspect.signature(fn) if after is not None else None

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if new_op and getattr(self._local, "op", None) is None:
                with self.op(f"{attr}#{next(self._ids)}", self.default_on):
                    return traced(*args, **kwargs)
            if not self.enabled():
                return fn(*args, **kwargs)
            with self.span(name, jobs=jobs) as sp:
                try:
                    result = fn(*args, **kwargs)
                except BaseException as e:
                    sp.extra = {"error": type(e).__name__}
                    raise
                if after is not None:
                    try:
                        after(sig.bind(*args, **kwargs).arguments, result)
                    except Exception:  # noqa: BLE001 - never fail the traced call
                        self.hook_errors += 1
                        traceback.print_exc(file=sys.stderr)
                return result

        setattr(owner, attr, traced)
        self._restore.append((owner, attr, fn))
        return fn

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._restore):
            setattr(owner, attr, fn)
        self._restore.clear()

    # -- reduction ------------------------------------------------------

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: a span's duration minus the
        part of its interval its child spans cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(id(s.parent), []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = 0.0
            cursor = s.start
            for c in sorted(children.get(id(s), []), key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s.name] = out.get(s.name, 0.0) + s.dur - covered
        return out

    def p50(self, name: str) -> float:
        durs = [s.dur for s in self.by_name(name)]
        return statistics.median(durs) if durs else 0.0

    def dump(self, path: str, summary: dict) -> None:
        ids = {id(s): i for i, s in enumerate(self.spans)}
        t0 = min((s.start for s in self.spans), default=0.0)
        doc = {
            "summary": summary,
            "self_time_s": self.self_times(),
            "spans": [
                {
                    "id": ids[id(s)],
                    "name": s.name,
                    "start_s": s.start - t0,
                    "end_s": s.end - t0,
                    "parent": ids.get(id(s.parent)) if s.parent is not None else None,
                    "op": s.op,
                    **({"jobs": s.jobs} if s.jobs is not None else {}),
                    **(s.extra or {}),
                }
                for s in self.spans
            ],
        }
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=1, default=str)
