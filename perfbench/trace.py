"""In-memory spans around calls into the engine's public entry points.

Only the traced run installs the wrappers (:func:`install`); the measured
runs call the engine untouched. A span is ``{id, name, trace_id, parent,
start, end}`` plus free-form attributes; ``trace_id`` is the crawl round,
the corpus refresh or the stream batch the span belongs to. Spans are kept
in memory and written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        # trace id for spans opened by the engine itself (commit, bloom, ...)
        self.current_trace: str | None = None

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, trace_id: str | None = None, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            rec = {
                "id": len(self.spans),
                "name": name,
                "trace_id": trace_id
                or (parent["trace_id"] if parent else self.current_trace),
                "parent": parent["id"] if parent else None,
                "start": time.perf_counter(),
                "end": None,
                **attrs,
            }
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def add(self, name: str, trace_id: str, start: float, end: float,
            parent: int | None = None, **attrs) -> dict:
        """Record a span whose interval was measured elsewhere (a stream
        batch, from the query's progress report)."""
        with self._lock:
            rec = {"id": len(self.spans), "name": name, "trace_id": trace_id,
                   "parent": parent, "start": start, "end": end, **attrs}
            self.spans.append(rec)
        return rec

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s, sort_keys=True) + "\n")


def install(tracer: Tracer) -> None:
    """Wrap the crawl, bloom and catalog entry points with spans. The
    engine looks these names up at call time, so replacing the module and
    class attributes is enough; nothing inside the package changes."""
    from news_crawler_slm_spark.crawl import frontier, rounds
    from news_crawler_slm_spark.sources import tables

    rounds.build_round = tracer.wrap("crawl.frontier", rounds.build_round)
    frontier.BloomStore.update = tracer.wrap("crawl.bloom", frontier.BloomStore.update)
    tables.SnapshotCatalog.commit = tracer.wrap(
        "sources.tables.commit", tables.SnapshotCatalog.commit
    )


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(iv: tuple[float, float], lo: float, hi: float) -> tuple[float, float] | None:
    s, e = max(iv[0], lo), min(iv[1], hi)
    return (s, e) if e > s else None


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time per span id: its duration minus the part of its interval
    that its child spans cover."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [
            iv
            for c in children.get(s["id"], [])
            if (iv := clip((c["start"], c["end"]), s["start"], s["end"]))
        ]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(kids)
    return out
