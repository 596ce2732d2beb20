"""In-memory spans around the program's public calls, patched in at run time.

The benchmark opens one root span per timed operation (`Tracer.op`); the
wrappers installed by `Tracer.wrap` record a child span for each call to a
wrapped function while an operation is open. A span records name, start,
end, parent span, operation id and thread. Calls on other threads (the
indexer's sink pool, the HTTP server's handler thread) are parented to the
span that is innermost on the operation's own thread when they start.

A span's self time is its duration minus the time its children cover.
Overlapping children (concurrent sink upserts) cover their union, so the
blocking-path sum -- self times with overlapping siblings scaled to the
time they jointly cover -- equals the operation's wall time when every
child lies inside its parent; `check_self_sums` reports the worst error.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager


class _Op:
    def __init__(self, op_id: int, kind: str, thread: int):
        self.op_id = op_id
        self.kind = kind
        self.thread = thread
        self.stack: list[int] = []


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count()
        self._ops = itertools.count()
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op: _Op | None = None
        self._patches: list[tuple] = []

    # -- recording ----------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        op = self._op
        if op is None:
            yield
            return
        tid = threading.get_ident()
        own = op.stack if tid == op.thread else self._stack()
        if own:
            parent = own[-1]
        else:
            parent = op.stack[-1] if op.stack else None
        sid = next(self._ids)
        own.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            own.pop()
            with self._lock:
                self.spans.append({
                    "id": sid, "name": name, "start": start, "end": end,
                    "parent": parent, "op": op.op_id, "kind": op.kind,
                    "thread": tid,
                })

    @contextmanager
    def op(self, kind: str, traced: bool = True):
        """Root span of one timed operation; `traced=False` records
        nothing, so the wrappers cost one attribute check."""
        if not traced:
            yield
            return
        self._op = _Op(next(self._ops), kind, threading.get_ident())
        try:
            with self.span(kind):
                yield
        finally:
            self._op = None

    # -- patching -----------------------------------------------------------

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace `owner.attr` (or `owner[attr]` for a dict) with a
        wrapper that records a `name` span per call."""
        is_dict = isinstance(owner, dict)
        fn = owner[attr] if is_dict else getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if tracer._op is None:
                return fn(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)

        if is_dict:
            owner[attr] = wrapper
        else:
            setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, fn, is_dict))

    def unpatch(self) -> None:
        for owner, attr, fn, is_dict in reversed(self._patches):
            if is_dict:
                owner[attr] = fn
            else:
                setattr(owner, attr, fn)
        self._patches.clear()

    # -- analysis -----------------------------------------------------------

    def by_op(self) -> dict[int, list[dict]]:
        ops: dict[int, list[dict]] = {}
        for s in self.spans:
            ops.setdefault(s["op"], []).append(s)
        return ops

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: (s["op"], s["start"])):
                fh.write(json.dumps(s) + "\n")


def union_ms(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total * 1000.0


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> self time in ms."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = children.get(s["id"], [])
        covered = union_ms([(max(c["start"], s["start"]),
                             min(c["end"], s["end"])) for c in kids])
        out[s["id"]] = (s["end"] - s["start"]) * 1000.0 - covered
    return out


def blocking_sum_ms(spans: list[dict]) -> tuple[float, float]:
    """(root wall ms, blocking-path sum of self times ms) for one op."""
    st = self_times(spans)
    children: dict[int, list[dict]] = {}
    root = None
    for s in spans:
        if s["parent"] is None:
            root = s
        else:
            children.setdefault(s["parent"], []).append(s)

    def blocking(s) -> float:
        kids = children.get(s["id"], [])
        if not kids:
            return st[s["id"]]
        total = sum((c["end"] - c["start"]) * 1000.0 for c in kids)
        joint = union_ms([(c["start"], c["end"]) for c in kids])
        scale = joint / total if total > 0 else 1.0
        return st[s["id"]] + scale * sum(blocking(c) for c in kids)

    wall = (root["end"] - root["start"]) * 1000.0
    return wall, blocking(root)


def check_self_sums(tracer: Tracer) -> float:
    """Worst relative error (%) over ops between the blocking-path self
    time sum and the op's wall time."""
    worst = 0.0
    for spans in tracer.by_op().values():
        wall, total = blocking_sum_ms(spans)
        if wall > 0:
            worst = max(worst, abs(total - wall) / wall * 100.0)
    return worst


def span_cost_us(tracer_cls=Tracer, n: int = 20000) -> float:
    """Calibrated cost of one recorded span around a no-op call."""
    t = tracer_cls()
    holder = {"f": lambda: None}
    t.wrap(holder, "f", "noop")
    f = holder["f"]
    with t.op("calibrate"):
        t0 = time.perf_counter()
        for _ in range(n):
            f()
        dt = time.perf_counter() - t0
    return dt / n * 1e6
