"""Span wrappers installed around the program's public functions.

The program is never edited: :meth:`Tracer.wrap` replaces a function
in every loaded ``promptner_spark`` module that holds it and
:meth:`Tracer.unwrap` puts the originals back. Each span sets the Spark
job description and the ``kgbench.span`` local property, so every job
a span triggers carries the span id into the event log.
"""

from __future__ import annotations

import functools
import importlib
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

SPAN_PROP = "kgbench.span"

# kinds: "layer" is a program layer; "boundary" materializes a stage
# (it takes no credit for fused upstream work); "step" is a plan-level
# composition or a benchmark step (pass root, sink, census).
LAYER, BOUNDARY, STEP = "layer", "boundary", "step"


@dataclass
class Span:
    id: int
    name: str
    kind: str
    parent: int | None
    t0: float
    t1: float = 0.0
    info: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


@dataclass
class Capture:
    """One call of a wrapped function: its span, arguments and result."""
    span: Span
    func: str
    args: tuple
    kwargs: dict
    out: object


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.captures: list[Capture] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    def _label(self, s: Span | None) -> None:
        self.sc.setLocalProperty(SPAN_PROP, None if s is None else str(s.id))
        self.sc.setJobDescription(None if s is None else s.name)

    @contextmanager
    def span(self, name: str, kind: str = STEP, info: dict | None = None):
        s = Span(len(self.spans), name, kind,
                 self._stack[-1].id if self._stack else None, time.time(),
                 info=dict(info or {}))
        self.spans.append(s)
        self._stack.append(s)
        self._label(s)
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()
            self._label(self._stack[-1] if self._stack else None)

    def wrap(self, module: str, attr: str, name: str, kind: str = LAYER,
             info=None, before=None) -> None:
        """Run every call of ``module.attr`` inside a span called
        ``name``. ``info(args, kwargs)`` adds fields to the span;
        ``before(args, kwargs)`` may rewrite the arguments."""
        orig = getattr(importlib.import_module(module), attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if before is not None:
                args, kwargs = before(args, kwargs)
            extra = info(args, kwargs) if info is not None else None
            with tracer.span(name, kind, extra) as s:
                out = orig(*args, **kwargs)
            tracer.captures.append(Capture(s, attr, args, kwargs, out))
            return out

        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith("promptner_spark")
                    and getattr(mod, attr, None) is orig):
                setattr(mod, attr, wrapper)
                self._patched.append((mod, attr, orig))

    def unwrap(self) -> None:
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()

    def subtree(self, root: Span) -> list[Span]:
        """``root`` and every span nested in it."""
        keep = {root.id}
        for s in self.spans[root.id + 1:]:
            if s.parent in keep:
                keep.add(s.id)
        return [s for s in self.spans if s.id in keep]
