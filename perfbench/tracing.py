"""In-memory spans around the benchmark's calls into the program's layers.

Spans are recorded only at the boundaries the benchmark can reach from its
own files: it wraps public callables of the program (``wrap``) for the
length of a traced run and restores them afterwards. Nothing under
``ser_etl_spark/`` knows about tracing.

A span is ``(id, parent, name, op, start, end)``: ``op`` identifies the
request, query or sync cycle the span belongs to, ``parent`` the span that
was open on the same thread when it started. A span's self time is its
duration minus its children's.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Span recorder; a disabled tracer records nothing and wraps nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[tuple[int, int | None, str, str | None, float, float]] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[tuple[int, str | None]]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent, parent_op = stack[-1] if stack else (None, None)
        sid = next(self._ids)
        op = op if op is not None else parent_op
        stack.append((sid, op))
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            self.spans.append((sid, parent, name, op, start, end))

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that records span ``name``."""
        if not self.enabled:
            return
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return original(*args, **kwargs)

        self._patched.append((owner, attr, original))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, parent, name, op, start, end in sorted(self.spans):
                f.write(json.dumps({
                    "id": sid, "parent": parent, "name": name, "op": op,
                    "start": start, "end": end,
                }) + "\n")

    # -- derived views -----------------------------------------------------

    def self_ms(self, layer_of) -> dict[tuple[str | None, str], float]:
        """``(op, layer) -> self ms``: each span's duration minus its
        children's, summed by ``layer_of(span name)``."""
        by_id = {s[0]: s for s in self.spans}
        out: dict[tuple[str | None, str], float] = defaultdict(float)
        for sid, parent, name, op, start, end in self.spans:
            ms = (end - start) * 1000.0
            layer = layer_of(name)
            out[(op, layer)] += ms
            if parent in by_id:
                out[(by_id[parent][3], layer_of(by_id[parent][2]))] -= ms
        return out

    def total_ms(self, name: str, ops: set[str] | None = None) -> float:
        return sum(
            (end - start) * 1000.0
            for _, _, n, op, start, end in self.spans
            if n == name and (ops is None or op in ops)
        )
