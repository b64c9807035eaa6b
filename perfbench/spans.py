"""In-memory span recorder for the traced (``--trace 1``) runs.

A span is (id, parent id, trace id, name, start, end). Spans nest per
thread: a span opened while another is open on the same thread becomes its
child and inherits its trace id. Spans are kept in memory and written out
once, at the end of the run; a layer's self time is its span's duration
minus the part of that interval its children cover.

Spans are recorded only from the benchmark's own files, around calls into
the program's public functions (``wrap`` patches an attribute for the
duration of a run and ``restore`` puts it back). With tracing off every
call is a no-op, so untraced runs pay nothing but an attribute check.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, trace_id=None):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        sp = {
            "id": next(self._ids),
            "parent": parent["id"] if parent else None,
            "trace": trace_id if trace_id is not None else (parent["trace"] if parent else None),
            "name": name,
            "start": time.perf_counter(),
            "end": None,
        }
        stack.append(sp)
        try:
            yield
        finally:
            sp["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(sp)

    def wrap(self, owner, attr: str, name: str, trace_of=None) -> None:
        """Record a span around every call of ``owner.attr`` until
        ``restore``; ``trace_of(*args, **kwargs)`` names the call's trace.
        No-op when tracing is off."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*a, **kw):
            with self.span(name, trace_of(*a, **kw) if trace_of else None):
                return orig(*a, **kw)

        self._patched.append((owner, attr, vars(owner).get(attr)))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, own in reversed(self._patched):
            if own is None:  # was inherited (or bound from the class)
                delattr(owner, attr)
            else:
                setattr(owner, attr, own)
        self._patched.clear()

    def durations(self, name: str) -> list[float]:
        """Wall seconds of every closed span called ``name``."""
        with self._lock:
            return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Total self seconds per span name: duration minus the union of
        the intervals its direct children cover."""
        with self._lock:
            spans = list(self.spans)
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in spans:
            covered, hi = 0.0, s["start"]
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, hi), min(b, s["end"])
                if b > a:
                    covered += b - a
                    hi = b
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str) -> None:
        with self._lock:
            spans = sorted(self.spans, key=lambda s: s["start"])
        t0 = spans[0]["start"] if spans else 0.0
        with open(path, "w") as f:
            json.dump(
                [
                    {**s, "start": round(s["start"] - t0, 6), "end": round(s["end"] - t0, 6)}
                    for s in spans
                ],
                f,
            )
