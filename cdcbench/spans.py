"""Spans recorded from the benchmark's own code around calls into the engine.

A span is a named wall-clock interval with a parent. Times are epoch
milliseconds taken from a monotonic clock anchored once, so they line up
with the Spark event log (which stamps jobs and stages with the driver's
wall clock) without jumping if the system clock is stepped mid-run.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from typing import Any, Callable, Iterator


class Tracer:
    """Keeps spans in memory; nothing is written until the run ends."""

    def __init__(self) -> None:
        self._epoch_ms = time.time() * 1000.0
        self._perf0 = time.perf_counter()
        self.spans: list[dict[str, Any]] = []
        self._stack: list[int] = []

    def now_ms(self) -> float:
        return self._epoch_ms + (time.perf_counter() - self._perf0) * 1000.0

    @contextmanager
    def span(self, name: str, **attrs: Any) -> Iterator[dict[str, Any]]:
        rec: dict[str, Any] = {
            "name": name,
            "start_ms": self.now_ms(),
            "end_ms": None,
            "parent": self._stack[-1] if self._stack else None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end_ms"] = self.now_ms()
            self._stack.pop()

    def wrap(
        self, obj: Any, method: str,
        note: Callable[[dict[str, Any], Any], None] | None = None,
    ) -> None:
        """Replace ``obj.method`` on this instance only by a spanned call,
        so calls the engine makes to itself (``replay`` -> ``apply_chunk``,
        ``maybe_compact`` -> ``compact``) are spanned too. ``note(attrs,
        result)`` may copy counts from the result into the span."""
        inner: Callable[..., Any] = getattr(obj, method)

        @functools.wraps(inner)
        def spanned(*args: Any, **kwargs: Any) -> Any:
            with self.span(method) as rec:
                out = inner(*args, **kwargs)
                if note is not None:
                    note(rec["attrs"], out)
                return out

        setattr(obj, method, spanned)

    def named(self, name: str) -> list[dict[str, Any]]:
        return [s for s in self.spans if s["name"] == name and s["end_ms"] is not None]


def wall_ms(span: dict[str, Any]) -> float:
    return span["end_ms"] - span["start_ms"]
