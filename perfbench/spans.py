"""In-memory spans around the benchmark's calls into each layer.

Every span is timed; only an enabled tracer keeps them.  Each kept span
has an id, its parent's id and the run's trace id, and the spans are
written once, when the run ends.  A layer's self time is its spans'
duration minus the part covered by their child spans.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict


class Span:
    __slots__ = ("tracer", "name", "attrs", "start", "end", "id", "parent")

    def __init__(self, tracer, name, attrs):
        self.tracer = tracer
        self.name = name
        self.attrs = attrs
        self.start = self.end = None
        self.id = self.parent = None

    def __enter__(self):
        self.tracer._open(self)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.end = time.perf_counter()
        self.tracer._close(self)
        return False

    @property
    def seconds(self):
        return self.end - self.start


class Tracer:
    def __init__(self, trace_id, enabled):
        self.trace_id = trace_id
        self.enabled = enabled
        self.spans = []
        self._stack = []

    def span(self, name, **attrs):
        return Span(self, name, attrs)

    def _open(self, span):
        if not self.enabled:
            return
        span.id = len(self.spans)
        span.parent = self._stack[-1].id if self._stack else None
        self.spans.append(span)
        self._stack.append(span)

    def _close(self, span):
        if span.id is not None:
            self._stack.pop()

    def self_times(self):
        """{span name: summed self time in seconds}."""
        child_s = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child_s[s.parent] += s.seconds
        out = defaultdict(float)
        for s in self.spans:
            out[s.name] += s.seconds - child_s[s.id]
        return dict(out)

    def write(self, path):
        t0 = self.spans[0].start if self.spans else 0.0
        doc = {
            "trace_id": self.trace_id,
            "self_time_s": self.self_times(),
            "spans": [
                {"id": s.id, "parent": s.parent, "name": s.name,
                 "start_s": s.start - t0, "end_s": s.end - t0, **s.attrs}
                for s in self.spans
            ],
        }
        with open(path, "w") as f:
            json.dump(doc, f)
