"""Spans around the engine's layer boundaries, recorded from outside it.

A ``Tracer`` wraps module attributes of the engine (the functions one
layer calls in the next) for as long as it is installed, and restores
them afterwards, so untraced passes run the unmodified program. Spans are
kept in memory and written out once, when the run ends.

It also counts py4j round trips by wrapping the gateway client's
``send_command``: every open span on the calling thread is charged, so a
span's count includes its children's.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    trace: str
    parent: int | None
    start: float
    end: float = 0.0
    py4j: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


#: (module, attribute): the engine's internal calls that cross a layer
#: boundary, wrapped where the caller looks them up; the span takes the
#: attribute's last name
WRAPPED = (
    ("klepto_spark.engine", "build_table_df"),
    ("klepto_spark.operators.pipeline", "anonymise_spark_factored"),
    ("klepto_spark.operators.pii", "redact"),
    ("klepto_spark.sinks.writers", "write_table"),
    ("klepto_spark.sinks.sqltext", "dump_table_sql"),
    ("klepto_spark.sinks.sqltext", "insert_statements"),
    ("klepto_spark.sources.catalog", "FileCatalog.load"),
    ("klepto_spark.sources.catalog", "FileCatalog.structure"),
)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.trace = ""
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        # parent of spans opened on a thread with no open span: the engine's
        # pool threads report to the span the calling thread opened first
        self._root: Span | None = None

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        span = Span(next(self._ids), name, self.trace,
                    parent.id if parent else None, time.perf_counter())
        with self._lock:
            self.spans.append(span)
        if parent is None:
            self._root = span
        stack.append(span)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            stack.pop()
            if self._root is span:
                self._root = None

    @contextlib.contextmanager
    def installed(self, gateway_client):
        """Wrap the engine's boundaries and the py4j client meanwhile."""
        saved: list[tuple[object, str, object]] = []
        for module, attr in WRAPPED:
            owner = importlib.import_module(module)
            *path, name = attr.split(".")
            for part in path:
                owner = getattr(owner, part)
            original = owner.__dict__[name]
            saved.append((owner, name, original))
            setattr(owner, name, self._wrap(original, name))
        send = gateway_client.send_command

        @functools.wraps(send)
        def counted(*args, **kwargs):
            for span in self._stack():
                span.py4j += 1
            return send(*args, **kwargs)

        gateway_client.send_command = counted
        saved.append((gateway_client, "send_command", None))
        try:
            yield self
        finally:
            for owner, name, original in reversed(saved):
                if original is None:
                    delattr(owner, name)  # drop the instance override
                else:
                    setattr(owner, name, original)

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds per span name not covered by that span's children.

    Children of one span may overlap (the engine runs tables on a thread
    pool), so the covered part is the union of their clipped intervals.
    """
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered, reach = 0.0, s.start
        for c in sorted(children.get(s.id, ()), key=lambda c: c.start):
            lo, hi = max(c.start, reach), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                reach = hi
        out[s.name] = out.get(s.name, 0.0) + s.seconds - covered
    return out
