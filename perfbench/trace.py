"""Spans around calls into the program's layers, recorded from outside.

:class:`Tracer` replaces a function with a recording wrapper in the
namespace its caller reads it from (a module attribute such as
``evaporate_spark.semantic.pipeline.run_functions``, or a class
attribute such as ``EvaporateData.view``) and puts every original back
on :meth:`Tracer.restore`. The program's own code is never edited.

Each span records layer, function, start, end, parent, thread, run id
and the Spark job and stage watermarks at both ends. ``profile_all``
runs kernels in a thread pool, so parents come from a per-thread stack;
a thread whose stack is empty hangs its spans on the run's root span.
Spans stay in memory until the benchmark writes them out.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    layer: str
    fn: str
    parent: int | None
    thread: str
    run: str
    start: float
    end: float = 0.0
    jobs: tuple[int, int] = (0, 0)
    stages: tuple[int, int] = (0, 0)
    info: dict = field(default_factory=dict)

    def as_dict(self) -> dict:
        return dict(self.__dict__)


class Tracer:
    """Record spans around wrapped calls and ``run`` blocks."""

    def __init__(self, watermark, run_id: str = "run"):
        self._watermark = watermark
        self.run_id = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._saved: list[tuple[object, str, object]] = []
        self.root: Span | None = None

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, layer: str, fn: str) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else self.root
        span = Span(
            id=next(self._ids),
            layer=layer,
            fn=fn,
            parent=parent.id if parent else None,
            thread=threading.current_thread().name,
            run=self.run_id,
            start=time.perf_counter(),
        )
        j0, s0 = self._watermark()
        span.jobs, span.stages = (j0, j0), (s0, s0)
        stack.append(span)
        with self._lock:
            self.spans.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        j1, s1 = self._watermark()
        span.jobs = (span.jobs[0], j1)
        span.stages = (span.stages[0], s1)
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()

    @contextlib.contextmanager
    def run(self, layer: str = "bench", fn: str = "run"):
        """A span around a block; the first one opened is the root."""
        span = self.open(layer, fn)
        if self.root is None:
            self.root = span
        try:
            yield span
        finally:
            self.close(span)

    # --------------------------------------------------------- wrapping
    def wrap(self, owner, attr: str, layer: str, hook=None) -> None:
        """Replace ``owner.attr`` (``owner`` a module or class) with a
        span-recording wrapper. ``hook(span, args, kwargs)``, if given,
        runs before the wrapped call and returns ``None`` or an
        ``after(result)`` callback run once the call returns."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            span = tracer.open(layer, attr)
            after = hook(span, args, kwargs) if hook is not None else None
            try:
                result = original(*args, **kwargs)
            finally:
                tracer.close(span)
            if after is not None:
                after(result)
            return result

        self._saved.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        """Put every wrapped function back, newest first."""
        while self._saved:
            owner, attr, original = self._saved.pop()
            setattr(owner, attr, original)


# ---------------------------------------------------------------- summary
def _merge(intervals) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def union_seconds(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    return sum(e - s for s, e in _merge(intervals))


def _self_intervals(span: Span, children: list[Span]) -> list[tuple[float, float]]:
    """``span``'s interval minus the union of its children's."""
    out, cur = [], span.start
    for s, e in _merge((max(c.start, span.start), min(c.end, span.end)) for c in children):
        if s > cur:
            out.append((cur, s))
        cur = max(cur, e)
    if span.end > cur:
        out.append((cur, span.end))
    return out


def layer_times(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per layer: ``busy_s``, the union of its spans, and ``self_s``, its
    share of the time in which it is innermost.

    A span is innermost wherever none of its children is open. When
    spans of several layers are innermost at once (on different
    threads), that time is split evenly among those layers, so the
    self times of all layers add up to the root span's wall time."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    busy: dict[str, list] = {}
    events = []
    for s in spans:
        busy.setdefault(s.layer, []).append((s.start, s.end))
        for a, b in _self_intervals(s, children.get(s.id, [])):
            events += [(a, 1, s.layer), (b, -1, s.layer)]
    own = dict.fromkeys(busy, 0.0)
    innermost: dict[str, int] = {}
    last = 0.0
    for t, step, layer in sorted(events):
        if innermost and t > last:
            share = (t - last) / len(innermost)
            for name in innermost:
                own[name] += share
        innermost[layer] = innermost.get(layer, 0) + step
        if not innermost[layer]:
            del innermost[layer]
        last = t
    return {layer: {"busy_s": union_seconds(busy[layer]), "self_s": own[layer]} for layer in busy}
