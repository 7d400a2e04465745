"""Spans around calls into the program's layers, recorded from outside.

:meth:`Tracer.wrap` replaces a module or class attribute with a wrapper
that opens a span named after the layer (``"index.prune"``), so the
program's own files stay untouched. Spans nest per thread; a span's self
time is its duration minus the time its direct children cover. Spans stay
in memory until the run ends.
"""

from __future__ import annotations

import functools
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Span:
    __slots__ = ("name", "start", "end", "parent", "children_s")

    def __init__(self, name: str, start: float, parent: "Span | None"):
        self.name = name
        self.start = start
        self.end = start
        self.parent = parent
        self.children_s = 0.0

    @property
    def dur_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur_s - self.children_s

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    def current(self) -> Span | None:
        return getattr(self._local, "top", None)

    @contextmanager
    def span(self, name: str):
        parent = self.current()
        sp = Span(name, time.perf_counter(), parent)
        self._local.top = sp
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._local.top = parent
            if parent is not None:
                parent.children_s += sp.dur_s
            with self._lock:
                self.spans.append(sp)

    def wrap(self, owner: object, attr: str, name: str, after=None) -> None:
        """Record a span ``name`` around every call of ``owner.attr``;
        ``after()``, if given, runs once the span has closed."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            try:
                with self.span(name):
                    return orig(*args, **kwargs)
            finally:
                if after is not None:
                    after()

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def named(self, name: str, parent: str | None = None) -> list[Span]:
        """Finished spans called ``name``; with ``parent``, only those whose
        direct parent span is called ``parent``."""
        with self._lock:
            spans = list(self.spans)
        return [
            s for s in spans
            if s.name == name
            and (parent is None or (s.parent is not None and s.parent.name == parent))
        ]

    def total_ms(self, name: str, parent: str | None = None) -> float:
        return 1000.0 * sum(s.dur_s for s in self.named(name, parent))

    def layer_self_ms(self, root: str) -> tuple[dict[str, float], float, float]:
        """Self time per layer over every span below the roots called
        ``root``, plus the roots' own uncovered time and their total."""
        with self._lock:
            spans = list(self.spans)
        per: dict[str, float] = defaultdict(float)
        total = unattributed = 0.0
        for s in spans:
            anc = s
            while anc.parent is not None:
                anc = anc.parent
            if anc.name != root:
                continue
            if s is anc:
                total += s.dur_s
                unattributed += s.self_s
            else:
                per[s.layer] += s.self_s
        return (
            {k: 1000.0 * v for k, v in per.items()},
            1000.0 * unattributed,
            1000.0 * total,
        )
