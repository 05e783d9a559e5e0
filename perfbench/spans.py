"""In-memory spans and the timing shims the traced run installs.

A span is (id, name, parent, start, end) with epoch-second times, so Spark
event-log timestamps (epoch milliseconds) can be matched against it. The
shims wrap public functions of the engine from outside; nothing under
``globalign_spark/`` knows it is being traced.
"""

from __future__ import annotations

import functools
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None


class Tracer:
    """Nested spans held in memory until :meth:`as_dicts` is called.

    One stack serves every thread: the batch pipeline runs on the main
    thread, and a streaming query runs its micro-batches one at a time on
    the callback thread while the main thread waits.
    """

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def open(self, name: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), name, parent, time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        return sp

    def close(self, sp: Span) -> None:
        sp.end = time.time()
        # Spans opened inside ``sp`` and never closed end with it.
        while self._stack:
            top = self._stack.pop()
            if top.end is None:
                top.end = sp.end
            if top is sp:
                break

    def close_named(self, name: str) -> None:
        """Close the innermost open span called ``name``, if any."""
        for sp in reversed(self._stack):
            if sp.name == name:
                self.close(sp)
                return

    @contextmanager
    def span(self, name: str):
        sp = self.open(name)
        try:
            yield sp
        finally:
            self.close(sp)

    def as_dicts(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "parent": s.parent,
             "start": s.start, "end": s.end}
            for s in self.spans
        ]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it covered by its children."""
    out = {s["id"]: s["end"] - s["start"] for s in spans}
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    for pid, ivs in kids.items():
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in sorted(ivs):
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[pid] -= covered
    return out


def innermost_span(spans: list[dict], t: float) -> dict | None:
    """The deepest span whose [start, end] interval holds time ``t``."""
    best, best_depth = None, -1
    depth = _depths(spans)
    for s in spans:
        if s["start"] <= t <= s["end"] and depth[s["id"]] > best_depth:
            best, best_depth = s, depth[s["id"]]
    return best


def ancestry(spans: list[dict], span_id: int) -> list[dict]:
    """The span and every span enclosing it, innermost first."""
    by_id = {s["id"]: s for s in spans}
    out, cur = [], by_id[span_id]
    while cur is not None:
        out.append(cur)
        cur = by_id[cur["parent"]] if cur["parent"] is not None else None
    return out


def total_by_name(spans: list[dict], name: str) -> tuple[float, int]:
    """(summed duration, instance count) of the spans called ``name``."""
    ds = [s["end"] - s["start"] for s in spans if s["name"] == name]
    return sum(ds), len(ds)


def _depths(spans: list[dict]) -> dict[int, int]:
    by_id = {s["id"]: s for s in spans}
    out: dict[int, int] = {}
    for s in spans:
        d, p = 0, s["parent"]
        while p is not None:
            d, p = d + 1, by_id[p]["parent"]
        out[s["id"]] = d
    return out


# Checkpoint stage -> span name. Spans that open at a lazy plan-building
# call (candidates, rescue) stay open until the stage write that runs
# their jobs has finished.
STAGE_SPANS = {
    "s0_normalized": "s0",
    "s0b_rep_map": "s0b",
    "s1_signatures": "signatures",
    "s1_candidates": "s1_write",
    "s3_scores": "s3",
    "s4_edges": "s4",
    "s4b_rescue_edges": "s4b_write",
    "s5_components": "s5",
}
CLOSES_AFTER = {"s1_candidates": "candidates", "s4b_rescue_edges": "rescue"}

# The micro-batch body of ``streaming.stream_incremental_er`` has no
# function boundary per step, so its steps are told apart by the PySpark
# call made from that file: the signature pass ends in ``localCheckpoint``
# and each state table is one ``parquet`` write whose path names it.
FOLD_WRITE_SPANS = {"assign": "fold.assign_write", "docs": "fold.state_write",
                    "bands": "fold.state_write"}


def fold_write_span(path: str) -> str | None:
    """Span name for a parquet write of the streaming state layout."""
    parts = str(path).replace("\\", "/").rstrip("/").split("/")
    if len(parts) >= 2 and parts[-1].startswith("v"):
        return FOLD_WRITE_SPANS.get(parts[-2])
    return None


def install(tracer: Tracer):
    """Wrap the engine's layer entry points with spans; returns an undo."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    from globalign_spark import streaming
    from globalign_spark.pipeline import (
        blocking, clustering, incremental, orchestrator,
    )

    saved: list[tuple[object, str, object]] = []
    stream_file = streaming.__file__

    def patch(owner, attr, wrapper):
        orig = getattr(owner, attr)
        saved.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(wrapper(orig)))

    def timed(name):
        def wrap(fn):
            def inner(*a, **kw):
                with tracer.span(name):
                    return fn(*a, **kw)
            return inner
        return wrap

    def opens(name):
        def wrap(fn):
            def inner(*a, **kw):
                tracer.open(name)
                return fn(*a, **kw)
            return inner
        return wrap

    def write(fn):
        def inner(self, name, *a, **kw):
            try:
                with tracer.span(STAGE_SPANS.get(name, name)):
                    return fn(self, name, *a, **kw)
            finally:
                if name in CLOSES_AFTER:
                    tracer.close_named(CLOSES_AFTER[name])
        return inner

    def from_stream_body() -> bool:
        return sys._getframe(2).f_code.co_filename == stream_file

    def local_checkpoint(fn):
        def inner(self, *a, **kw):
            if not from_stream_body():
                return fn(self, *a, **kw)
            with tracer.span("fold.signatures"):
                return fn(self, *a, **kw)
        return inner

    def parquet_write(fn):
        def inner(self, path, *a, **kw):
            name = fold_write_span(path) if from_stream_body() else None
            if name is None:
                return fn(self, path, *a, **kw)
            with tracer.span(name):
                return fn(self, path, *a, **kw)
        return inner

    patch(orchestrator.Checkpointer, "write", write)
    patch(blocking, "choose_banding", timed("choose_banding"))
    patch(blocking, "lsh_candidates", opens("candidates"))
    patch(blocking, "rescue_candidates", opens("rescue"))
    cc = timed("cc")
    patch(clustering, "connected_components", cc)
    # incremental.py binds the name at import time.
    patch(incremental, "connected_components", cc)
    patch(DataFrame, "localCheckpoint", local_checkpoint)
    patch(DataFrameWriter, "parquet", parquet_write)

    def undo():
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)

    return undo
