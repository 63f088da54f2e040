"""In-memory spans and call counters for the traced run.

A span is ``(layer, start, end, parent, key)``: wall-clock seconds (so
spans from the load generator and the server line up), the index of
its parent span or None, and the identifier its request shares across
layers (a batch checksum for ingest, a key name for the query mix).
Spans stay in memory and are written out once, when the run ends.

``wrap`` instruments a module-level function or a method in place: each
call is counted and its duration added to the layer's busy time, and
optionally recorded as a span. Only the traced run installs wrappers.
"""

from __future__ import annotations

import functools
import statistics
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float, int | None, str | None]] = []
        self.calls: dict[str, int] = defaultdict(int)
        self.busy: dict[str, float] = defaultdict(float)
        self.durations: dict[str, list[float]] = defaultdict(list)
        self._lock = threading.Lock()
        self._local = threading.local()

    def span(self, layer: str, start: float, end: float,
             parent: int | None = None, key: str | None = None) -> int:
        with self._lock:
            self.spans.append((layer, start, end, parent, key))
            return len(self.spans) - 1

    def wrap(self, owner, attr: str, layer: str, key_of=None) -> None:
        """Replace ``owner.attr`` with a counting wrapper. With ``key_of``
        each call is also a span whose key is ``key_of(*args)``, and a
        span opened inside it on the same thread becomes its child."""
        inner = getattr(owner, attr)
        local = self._local

        @functools.wraps(inner)
        def counted(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return inner(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                with self._lock:
                    self.calls[layer] += 1
                    self.busy[layer] += dt

        @functools.wraps(inner)
        def spanned(*args, **kwargs):
            parent = getattr(local, "open", None)
            key = key_of(*args) if key_of else None
            start, t0 = time.time(), time.perf_counter()
            with self._lock:
                self.spans.append((layer, start, start, parent, key))
                idx = len(self.spans) - 1
            local.open = idx
            try:
                return inner(*args, **kwargs)
            finally:
                local.open = parent
                dt = time.perf_counter() - t0
                with self._lock:
                    self.spans[idx] = (layer, start, start + dt, parent, key)
                    self.calls[layer] += 1
                    self.busy[layer] += dt
                    self.durations[layer].append(dt)

        setattr(owner, attr, spanned if key_of else counted)


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of ``intervals``."""
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per layer, the summed span durations minus the part of each span
    its children cover (children clipped to the parent's interval)."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            p = spans[s["parent"]]
            lo, hi = max(s["start"], p["start"]), min(s["end"], p["end"])
            if hi > lo:
                kids[s["parent"]].append((lo, hi))
    out: dict[str, float] = defaultdict(float)
    for i, s in enumerate(spans):
        out[s["layer"]] += (s["end"] - s["start"]) - union_s(kids.get(i, []))
    return dict(out)


def percentile(values: list[float], q: float) -> float:
    """The ``q``-quantile (0 < q < 1) by linear interpolation."""
    if not values:
        return 0.0
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=1000, method="inclusive")[round(q * 1000) - 1]
