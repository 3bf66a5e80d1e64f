"""In-memory span tracer for the benchmark's traced run.

Spans are recorded only here, in the benchmark, by wrapping the public
functions of each layer for the duration of a traced pass.  A function a
module imported by name lives on in that module's namespace too, so
``patched`` replaces every binding of the original object across the
package's loaded modules and restores them all afterwards.

A span's self time is its duration minus the part of its interval that its
child spans cover.  In single-threaded code children nest inside their
parent and never overlap, so the self times of all spans sum exactly to
the durations of the root spans: the per-phase totals plus the root's own
self time add up to the traced ``extract`` total.
"""

from __future__ import annotations

import contextlib
import dataclasses
import json
import sys
import time
from collections import Counter

from perfbench.eventlog import covered

PACKAGE = "cl_readability_spark"


@dataclasses.dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    key: object = None


class Tracer:
    """Spans and call counts, kept in memory until ``write``."""

    def __init__(self):
        self.spans: list[Span] = []
        self.counts: Counter = Counter()
        self.key_counts: Counter = Counter()
        self.key = None
        self._stack: list[int] = []

    def span(self, name: str, fn, keys=None):
        """Wrap ``fn`` so each call records a span.  With ``keys`` (an
        iterator), each call first advances the current key, which every
        span and keyed count until the next such call carries."""

        def wrapper(*args, **kwargs):
            if keys is not None:
                self.key = next(keys)
            s = Span(name, time.perf_counter(), 0.0,
                     self._stack[-1] if self._stack else None, self.key)
            self._stack.append(len(self.spans))
            self.spans.append(s)
            try:
                return fn(*args, **kwargs)
            finally:
                s.end = time.perf_counter()
                self._stack.pop()

        return wrapper

    def count(self, name: str, fn):
        """Wrap ``fn`` so each call is counted, in total and per key."""

        def wrapper(*args, **kwargs):
            self.counts[name] += 1
            self.key_counts[(name, self.key)] += 1
            return fn(*args, **kwargs)

        return wrapper

    def add(self, name: str, start: float, end: float, key=None) -> int:
        """Record a span measured elsewhere (e.g. a Spark job)."""
        self.spans.append(Span(name, start, end, None, key))
        return len(self.spans) - 1

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **dataclasses.asdict(s)},
                                   default=str) + "\n")


def self_times(spans: list[Span]) -> list[float]:
    """Per span: duration minus the union of its children's intervals,
    clipped to the span's own interval."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        kids = [(max(a, s.start), min(b, s.end))
                for a, b in children.get(i, ()) if min(b, s.end) > max(a, s.start)]
        out.append((s.end - s.start) - covered(kids))
    return out


@contextlib.contextmanager
def patched(replacements: dict[tuple[object, str], object]):
    """Install wrappers: ``{(owner, attr): wrapper}`` where ``owner`` is a
    module or class.  For a module-level function every module of the
    package that bound the same object is patched too."""
    undo: list[tuple[object, str, object]] = []
    try:
        for (owner, attr), wrapper in replacements.items():
            original = getattr(owner, attr)
            holders = [owner]
            if isinstance(owner, type(sys)):
                holders += [m for name, m in list(sys.modules.items())
                            if name.startswith(PACKAGE) and m is not owner
                            and getattr(m, attr, None) is original]
            for holder in holders:
                undo.append((holder, attr, original))
                setattr(holder, attr, wrapper)
        yield
    finally:
        for holder, attr, original in reversed(undo):
            setattr(holder, attr, original)
