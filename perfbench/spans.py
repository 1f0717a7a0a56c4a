"""In-memory spans recorded from the benchmark's side of each layer boundary.

The program is not edited: ``Tracer.wrap`` swaps a module attribute (or a
class method) for a wrapper that records a span around the call and puts the
original back on ``restore()``. The crawl loop looks its collaborators up as
module attributes at call time (``ST.commit_batch``, ``POL.admit_window``,
...), so a swapped attribute is what the loop calls.

A span is (id, name, start, end, parent, run id, thread, lazy). ``lazy``
marks a call that only builds a Spark plan: its span covers planning, and
the execution it describes runs later inside some other span. Parents
follow the calling thread; a call on a worker thread (the crawl's commit
and verify pools) is parented to the operation span that was open when the
worker ran, so every span of one operation shares that root.
"""

from __future__ import annotations

import functools
import itertools
import json
import statistics
import threading
import time


def covered_length(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.bookkeeping_s = 0.0       # time spent in this class's own code
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: int | None = None  # open operation span, for worker threads
        self._restore: list = []

    # -- recording --------------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _open(self, name: str, lazy: bool) -> dict:
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        span = {"id": next(self._ids), "name": name, "parent": parent,
                "run": self.run_id, "thread": threading.current_thread().name,
                "lazy": lazy}
        stack.append(span["id"])
        t1 = time.perf_counter()
        self.bookkeeping_s += t1 - t0
        span["start"] = t1
        return span

    def _close(self, span: dict) -> None:
        t0 = time.perf_counter()
        span["end"] = t0
        self._stack().pop()
        with self._lock:
            self.spans.append(span)
        self.bookkeeping_s += time.perf_counter() - t0

    def call(self, name: str, fn, *args, lazy: bool = False, **kwargs):
        span = self._open(name, lazy)
        try:
            return fn(*args, **kwargs)
        finally:
            self._close(span)

    def operation(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` as a root span that worker-thread spans attach to."""
        span = self._open(name, False)
        self._root = span["id"]
        try:
            return fn(*args, **kwargs)
        finally:
            self._root = None
            self._close(span)

    # -- attribute wrapping ----------------------------------------------
    def wrap(self, owner, attr: str, name: str, lazy: bool = False) -> None:
        orig = owner.__dict__[attr]
        if isinstance(orig, (staticmethod, classmethod)):
            raise TypeError(f"cannot wrap {name}: {type(orig).__name__}")

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            return self.call(name, orig, *args, lazy=lazy, **kwargs)

        setattr(owner, attr, wrapper)
        self._restore.append((owner, attr, orig))

    def restore(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    # -- reading ------------------------------------------------------------
    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_time(self, span: dict) -> float:
        """Span duration minus the part of it that child spans cover."""
        kids = [(max(c["start"], span["start"]), min(c["end"], span["end"]))
                for c in self.spans if c["parent"] == span["id"]]
        return (span["end"] - span["start"]) - covered_length(kids)

    def summary(self) -> dict:
        """name → {calls, total_s, self_s, p50_s, lazy} over every span."""
        out: dict[str, dict] = {}
        for name in sorted({s["name"] for s in self.spans}):
            spans = self.by_name(name)
            durs = [s["end"] - s["start"] for s in spans]
            out[name] = {"calls": len(spans), "total_s": sum(durs),
                         "self_s": sum(self.self_time(s) for s in spans),
                         "p50_s": statistics.median(durs),
                         "lazy": spans[0]["lazy"]}
        return out

    def dump(self, path) -> None:
        base = min((s["start"] for s in self.spans), default=0.0)
        rows = [{**s, "start": s["start"] - base, "end": s["end"] - base}
                for s in sorted(self.spans, key=lambda s: s["start"])]
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": rows,
                       "summary": self.summary()}, fh, indent=1)
