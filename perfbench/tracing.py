"""In-memory spans for the traced benchmark run.

A span is (id, name, start, end, parent, request). The benchmark opens
spans around its own calls into the engine and, in traced runs only,
wraps a fixed list of engine functions so that the calls a public entry
point makes internally show up as child spans. Nothing is written until
`dump`, at the end of the run.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

# (module, attribute path, span name): the engine calls each of these
# through a module or class attribute at call time, so replacing the
# attribute makes the wrapper see every internal call
WRAPPED = [
    ("searchengine_spark.plans.serve", "lookup_terms", "serve.lookup_terms"),
    ("searchengine_spark.plans.serve", "driver_topk", "serve.driver_topk"),
    ("searchengine_spark.plans.serve", "driver_count_candidates", "serve.count"),
    ("searchengine_spark.plans.serve", "fetch_docs", "serve.fetch_docs"),
    ("searchengine_spark.plans.query", "build_snippet", "snippet.build"),
    ("searchengine_spark.plans.query", "QueryEngine.analyze", "query.analyze"),
    ("searchengine_spark.plans.query", "QueryEngine.candidates_df",
     "query.candidates_df"),
    ("searchengine_spark.plans.query", "QueryEngine.search", "query.search"),
    ("searchengine_spark.plans.wand", "wand_topk", "wand.topk_plan"),
]


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    request: str | None

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """Spans of the thread that created it; other threads pass through.
    `enabled` can be flipped per request to interleave traced and
    untraced calls (that is how the tracing overhead is measured)."""

    def __init__(self):
        self.spans: list[Span] = []
        self.enabled = True
        self.request: str | None = None
        self._stack: list[int] = []
        self._ids = itertools.count()
        self._tid = threading.get_ident()
        self._undo: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled or threading.get_ident() != self._tid:
            yield
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans.append(Span(sid, name, t0, t1, parent, self.request))

    # --- wrapping engine internals ----------------------------------------

    def install(self) -> list[str]:
        """Wrap every WRAPPED target; returns the span names that could not
        be installed because the target no longer exists."""
        missing = []
        for mod_name, path, span_name in WRAPPED:
            owner = importlib.import_module(mod_name)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            fn = owner.__dict__.get(attr) if isinstance(owner, type) \
                else getattr(owner, attr, None)
            if fn is None:
                missing.append(span_name)
                continue
            setattr(owner, attr, self._wrap(fn, span_name))
            self._undo.append((owner, attr, fn))
        for name in missing:
            print(f"perfbench: span {name} not installed (target missing)",
                  file=sys.stderr)
        return missing

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._undo):
            setattr(owner, attr, fn)
        self._undo.clear()

    def _wrap(self, fn, span_name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(span_name):
                return fn(*args, **kwargs)
        return wrapper

    # --- derived figures ---------------------------------------------------

    def self_ms(self) -> dict[int, float]:
        """Span id -> duration minus the part of it its children cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, cur_end = 0.0, s.start
            for c in sorted(children.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, cur_end), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[s.id] = (s.end - s.start - covered) * 1000.0
        return out

    def per_request(self, name: str) -> dict[str, float]:
        """request -> summed ms of the spans called `name` in it."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s.name == name and s.request is not None:
                out[s.request] = out.get(s.request, 0.0) + s.ms
        return out

    def dump(self, path: str) -> None:
        self_ms = self.self_ms()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**asdict(s), "self_ms": self_ms[s.id]})
                        + "\n")
