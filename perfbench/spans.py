"""In-memory span recorder for the traced run.

A span has a name, a start and end (``time.perf_counter`` seconds), the
span that caused it (the innermost open span on the same thread) and the
request it belongs to.  Counts are recorded at the same boundaries, keyed
by request.  Nothing is written until :meth:`Recorder.dump` runs at the
end of the benchmark.
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Recorder:
    def __init__(self) -> None:
        self.enabled = False
        self._lock = threading.Lock()
        self._local = threading.local()
        self._spans: list[tuple] = []  # (sid, name, start, end, parent, rid)
        self._counts: dict[tuple[int | None, str], float] = defaultdict(float)
        self._next_sid = 0
        self._next_rid = 0

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @property
    def rid(self) -> int | None:
        return getattr(self._local, "rid", None)

    def new_request(self) -> int:
        """Start a request on this thread; spans opened here carry its id."""
        with self._lock:
            self._next_rid += 1
            rid = self._next_rid
        self._local.rid = rid
        return rid

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        with self._lock:
            self._next_sid += 1
            sid = self._next_sid
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self._spans.append((sid, name, start, end, parent, self.rid))

    def count(self, name: str, value: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self._counts[(self.rid, name)] += value

    def dump(self) -> dict:
        with self._lock:
            return {
                "spans": [
                    {"id": s, "name": n, "start": a, "end": b, "parent": p, "rid": r}
                    for s, n, a, b, p, r in self._spans
                ],
                "counts": [
                    {"rid": r, "name": n, "value": v}
                    for (r, n), v in self._counts.items()
                ],
            }


def covered_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total = 0.0
    cur_a = cur_b = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part its child spans cover.

    Children may nest or overlap (children on other threads); the covered
    part is the union of their intervals inside the parent's."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered_length(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def self_time_by_name(spans: list[dict]) -> dict[str, float]:
    own = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s["name"]] += own[s["id"]]
    return dict(out)


def total_time_by_name(spans: list[dict]) -> dict[str, float]:
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s["name"]] += s["end"] - s["start"]
    return dict(out)
