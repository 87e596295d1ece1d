"""Spans and counters recorded from outside the program.

A :class:`Tracer` keeps spans (name, start, end, parent) in memory. The
benchmark opens spans around its own calls into the program (op, build,
exec) and, in a traced run, :func:`wrap_modules` makes every public
function of the named package modules open a span too. Streaming
micro-batches and Spark jobs, read from the event log after the run, are
added as child spans of the phase (or micro-batch) during which they
started: the ops run one after another on one driver thread, so a time
interval names the op phase that caused the work.
"""

from __future__ import annotations

import bisect
import functools
import inspect
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from stats import covered


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans in wall-clock seconds (``time.time``, the event log's clock).

    Spans opened with :meth:`span` nest by call order; :meth:`add` records
    a finished span under an explicit parent (Spark jobs)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.py4j_calls = 0

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.time(), parent=parent, attrs=attrs)
        self._stack.append(len(self.spans))
        self.spans.append(s)
        calls = self.py4j_calls
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()
            s.attrs["py4j"] = self.py4j_calls - calls

    def add(self, name: str, start: float, end: float, parent: int | None,
            **attrs) -> int:
        self.spans.append(Span(name, start, end, parent, attrs))
        return len(self.spans) - 1

    def self_times(self) -> list[float]:
        """Per span: duration minus the time its children cover (overlaps
        counted once, children clipped to the span)."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append((s.start, s.end))
        return [s.duration - covered(kids.get(i, []), s.start, s.end)
                for i, s in enumerate(self.spans)]

    def to_json(self) -> list[dict]:
        return [{"name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, **s.attrs} for s in self.spans]


def containing(spans: list[Span], idxs: list[int], t: float) -> int | None:
    """The index, out of ``idxs``, of the span whose interval holds ``t``.
    ``idxs`` name spans in time order that do not overlap."""
    k = bisect.bisect_right([spans[i].start for i in idxs], t) - 1
    if k >= 0 and t <= spans[idxs[k]].end:
        return idxs[k]
    return None


def count_py4j(tracer: Tracer, gateway) -> None:
    """Count every Py4J round trip the driver makes (the client's
    ``send_command``) into ``tracer.py4j_calls``."""
    client = gateway._gateway_client
    send = client.send_command

    def counted(*args, **kwargs):
        tracer.py4j_calls += 1
        return send(*args, **kwargs)

    client.send_command = counted


def _wrap(tracer: Tracer, label: str, fn):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(label, kind="module"):
            return fn(*args, **kwargs)
    return traced


def wrap_modules(tracer: Tracer, modules: dict[str, list],
                 package: str | None = None) -> None:
    """Replace each public function (and each public method of each
    public class) defined in the given modules with a wrapper that opens
    a ``module:<layer>`` span. ``modules`` maps a layer name to the
    module objects that make it up. Names bound to those functions in
    other modules of ``package`` (``from m import f``) are rebound to the
    wrappers too."""
    wrapped: dict[int, object] = {}
    for layer, mods in modules.items():
        label = f"module:{layer}"
        for mod in mods:
            for name, obj in list(vars(mod).items()):
                own = getattr(obj, "__module__", None) == mod.__name__
                if name.startswith("_") or not own:
                    continue
                if inspect.isfunction(obj):
                    wrapped[id(obj)] = _wrap(tracer, label, obj)
                    setattr(mod, name, wrapped[id(obj)])
                elif inspect.isclass(obj):
                    for mname, meth in list(vars(obj).items()):
                        if not mname.startswith("_") and inspect.isfunction(meth):
                            setattr(obj, mname, _wrap(tracer, label, meth))
    if package is None:
        return
    for mod_name, mod in list(sys.modules.items()):
        in_package = mod_name == package or mod_name.startswith(package + ".")
        if mod is None or not in_package:
            continue
        for name, obj in list(vars(mod).items()):
            if id(obj) in wrapped and inspect.isfunction(obj):
                setattr(mod, name, wrapped[id(obj)])
