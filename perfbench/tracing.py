"""In-memory spans recorded around calls into the engine's public
functions, written out as JSON lines when the benchmark ends.

The engine is not modified: ``Tracer.patch`` swaps a module or class
attribute for a timing wrapper and ``Tracer.close`` restores it. Spans nest
through a stack, so each records the span that was open when it started.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from typing import Any, Dict, Iterator, List, Optional


class Tracer:
    def __init__(self, trace_id: str) -> None:
        self.trace_id = trace_id
        self.enabled = True
        self.spans: List[Dict[str, Any]] = []
        self._stack: List[int] = []
        self._restore: List[tuple] = []

    @contextmanager
    def span(self, name: str, **attrs: Any) -> Iterator[Dict[str, Any]]:
        if not self.enabled:
            yield {}
            return
        rec: Dict[str, Any] = {
            "trace": self.trace_id,
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start_ns": time.perf_counter_ns(),
            "end_ns": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end_ns"] = time.perf_counter_ns()

    def patch(self, owner: Any, attr: str, name: str) -> None:
        """Record a span named ``name`` around every call of ``owner.attr``
        until ``close``; while ``enabled`` is false the wrapper only forwards."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args: Any, **kwargs: Any) -> Any:
            if not self.enabled:
                return original(*args, **kwargs)
            with self.span(name):
                return original(*args, **kwargs)

        self._restore.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def close(self) -> None:
        """Restore every patched attribute (latest patch first)."""
        while self._restore:
            owner, attr, original = self._restore.pop()
            setattr(owner, attr, original)

    def durations(self, name: str, parent: Optional[int] = None) -> List[float]:
        """Seconds of each finished span called ``name`` (optionally only
        the direct children of span ``parent``)."""
        return [
            (s["end_ns"] - s["start_ns"]) / 1e9
            for s in self.spans
            if s["name"] == name
            and s["end_ns"] is not None
            and (parent is None or s["parent"] == parent)
        ]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")
