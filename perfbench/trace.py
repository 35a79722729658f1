"""In-memory span tracing around the calls into each package layer.

The benchmark patches public names of the program from outside, at
the place the caller looks them up (``engine`` imports ``classify``,
``register_path`` and ``materialize`` by name, so those are patched on
the ``engine`` module). Spans record name, start, end, parent and
operation id; nothing is written until the run ends.

Only operations begun with :meth:`Tracer.begin_op` record spans, so one
run can interleave traced and untraced operations and compare them.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from collections import Counter, defaultdict
from dataclasses import dataclass

from perfbench.stats import self_time


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str


def layer_of(name: str) -> str:
    """``catalog.lookup`` -> ``catalog``."""
    return name.split(".", 1)[0]


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: Counter[str] = Counter()
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._local = threading.local()

    # ---- operations ----

    def begin_op(self, op: str) -> None:
        self._local.op = op
        self._local.stack = []

    def end_op(self) -> None:
        self._local.op = None

    @property
    def op(self) -> str | None:
        return getattr(self._local, "op", None)

    def count(self, name: str, n: float = 1) -> None:
        if self.op is not None:
            with self._lock:
                self.counts[name] += n

    @contextlib.contextmanager
    def span(self, name: str):
        op = self.op
        if op is None:
            yield
            return
        stack = self._local.stack
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, op))

    def wrap(self, fn, name: str, on_result=None):
        """``fn`` inside a span; ``on_result(args, kwargs, result)``
        records counts after the call."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if self.op is None:
                return fn(*args, **kwargs)
            with self.span(name):
                result = fn(*args, **kwargs)
            if on_result is not None:
                on_result(args, kwargs, result)
            return result

        return wrapper

    # ---- analysis ----

    def self_times(self) -> dict[str, float]:
        """Self time per span name, summed over all spans."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append((s.start, s.end))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += self_time(s.start, s.end, children.get(s.id, []))
        return dict(out)

    def inclusive_times(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += s.end - s.start
        return dict(out)

    def span_counts(self) -> Counter[str]:
        return Counter(s.name for s in self.spans)

    def layer_counts(self) -> Counter[str]:
        return Counter(layer_of(s.name) for s in self.spans)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [
                        [s.id, s.name, round(s.start, 6), round(s.end, 6), s.parent, s.op]
                        for s in self.spans
                    ],
                    "span_fields": ["id", "name", "start", "end", "parent", "op"],
                    "counts": dict(self.counts),
                },
                f,
            )


class Patcher:
    """Set attributes for the traced run and restore them afterwards."""

    def __init__(self) -> None:
        self._saved: list[tuple[object, str, object, bool]] = []
        self.missing: list[str] = []

    def set(self, owner, attr: str, make) -> None:
        """Replace ``owner.attr`` with ``make(original)``; a name the
        program no longer has is recorded, not fatal."""
        if not hasattr(owner, attr):
            self.missing.append(f"{getattr(owner, '__name__', owner)}.{attr}")
            return
        own = attr in vars(owner) if hasattr(owner, "__dict__") else True
        original = getattr(owner, attr)
        self._saved.append((owner, attr, vars(owner).get(attr) if own else None, own))
        setattr(owner, attr, make(original))

    def restore(self) -> None:
        for owner, attr, original, own in reversed(self._saved):
            if own:
                setattr(owner, attr, original)
            else:
                delattr(owner, attr)
        self._saved.clear()
