"""Spans recorded from outside the package, around calls into its layers.

A span has a name (``layer.call``), start and end (epoch ms, the clock
Spark's event log uses), a parent and a request id (query, batch or
delta). Spans stay in memory until the run ends. With tracing on, each
span also sets a Spark job group, so the event log can attribute jobs
to the innermost open span; with tracing off a span only times its body.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    request: str | None
    start_ms: float
    end_ms: float = 0.0
    seconds: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def group(self) -> str:
        return f"pb-{self.sid}"


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None

    def bind(self, sc) -> None:
        """Start setting job groups on ``sc`` (a SparkContext)."""
        self._sc = sc if self.enabled else None

    def _set_group(self, sp: Span | None) -> None:
        if self._sc is None:
            return
        if sp is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(sp.group, sp.name)

    @contextmanager
    def span(self, name: str, request: str | None = None):
        """Yields the Span; ``seconds`` is set on exit, traced or not."""
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.sid if parent else None, request, time.time() * 1e3)
        if self.enabled:
            self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.seconds = time.perf_counter() - t0
            sp.end_ms = time.time() * 1e3
            self._stack.pop()
            self._set_group(parent)

    def to_json(self) -> list[dict]:
        return [asdict(s) | {"self_ms": self.self_ms(s)} for s in self.spans]

    def self_ms(self, sp: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = [(c.start_ms, c.end_ms) for c in self.spans if c.parent == sp.sid]
        return (sp.end_ms - sp.start_ms) - covered_ms(kids, sp.start_ms, sp.end_ms)


def covered_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
