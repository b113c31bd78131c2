"""Spans around the library's public entry points, recorded from
outside the library.

``Tracer.install()`` wraps each entry point in ENTRY_POINTS with a span
(name, start, end, parent, query, thread) kept in memory; ``uninstall()``
puts the originals back. The parent is the innermost open span of the
same thread, so spans opened in the search thread pools have none; the
layer summaries therefore nest spans by time, not by parent.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

# (span name, module, class or None, attribute). The span's layer is
# the part of its name before the first dot.
ENTRY_POINTS = (
    ("sources.load_table", "dask_ml_spark.sources.io", None, "load_table"),
    ("search.GridSearchCV.fit", "dask_ml_spark.plans.model_selection", "GridSearchCV", "fit"),
    ("search.BaseIncrementalSearchCV.fit", "dask_ml_spark.plans.incremental",
     "BaseIncrementalSearchCV", "fit"),
    ("search.HyperbandSearchCV.fit", "dask_ml_spark.plans.incremental", "HyperbandSearchCV", "fit"),
    ("solvers.fit_glm", "dask_ml_spark.operators.solvers", None, "fit_glm"),
)
# The four solvers are reached through the module's SOLVERS table.
SOLVER_MODULE = "dask_ml_spark.operators.solvers"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    query: str | None
    thread: int

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.query: str | None = None  # set by the runner around each query
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sp = Span(next(self._ids), name, time.time(), None,
                      stack[-1].id if stack else None, self.query,
                      threading.get_ident())
            self.spans.append(sp)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return traced

    def _patch(self, owner, attr: str, name: str) -> None:
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        setattr(owner, attr, self._wrap(name, original))
        self._patched.append((owner, attr, original))

    def install(self) -> None:
        for name, module, cls, attr in ENTRY_POINTS:
            mod = importlib.import_module(module)
            self._patch(getattr(mod, cls) if cls else mod, attr, name)
        solvers = importlib.import_module(SOLVER_MODULE)
        for key, fn in list(solvers.SOLVERS.items()):
            wrapped = self._wrap(f"solvers.{key}", fn)
            solvers.SOLVERS[key] = wrapped
            self._patched.append((solvers.SOLVERS, key, fn))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            if isinstance(owner, dict):
                owner[attr] = original
            else:
                setattr(owner, attr, original)
        self._patched.clear()

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for sp in self.spans:
                fh.write(json.dumps(asdict(sp)) + "\n")


def outermost(spans, layer: str, lo: float, hi: float) -> list[Span]:
    """Closed spans of ``layer`` starting in [lo, hi] that no other span
    of the same layer encloses in time (whatever thread opened it)."""
    own = sorted((s for s in spans if s.layer == layer and s.end is not None
                  and lo <= s.start <= hi), key=lambda s: (s.start, -s.end))
    out: list[Span] = []
    reach = float("-inf")
    for s in own:
        if s.end <= reach:
            continue  # enclosed by an earlier span of this layer
        out.append(s)
        reach = max(reach, s.end)
    return out
