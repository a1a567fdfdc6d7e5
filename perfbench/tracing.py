"""In-memory spans around the program's public layer functions.

The program is not changed: ``Tracer.patched()`` swaps each traced function
for a wrapper that records (name, start, end, parent) and restores the
originals on exit. Spans are kept in a list and written out by the caller
when the run ends.

Traced boundaries, one per layer the benchmark breaks down:

* ``Crawler.__init__``              -> ``canonical.index_build`` (fetch-index build)
* ``Crawler.run_round``             -> ``scheduler.round``
* ``Warehouse.commit_round``        -> ``warehouse.commit``
* ``rank_and_key`` as the scheduler
  imports it                        -> ``seen.rank_and_key``
* ``PartitionedBloom.from_rows``    -> ``seen.bloom_from_rows`` (driver-side
  rebuild of the broadcast prefilter from the committed bitmap table)

Only calls made on the driver are seen; executor-side work is read from the
Spark event log instead (``eventlog.py``).
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """``full=False`` times only ``Crawler.run_round``, which the end-to-end
    ``round_s_p50`` needs; ``full=True`` traces every boundary."""

    def __init__(self, full: bool = True):
        self.full = full
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), float("nan"), parent))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    @contextmanager
    def patched(self):
        """Trace the layer boundaries listed in the module docstring."""
        from crawlspark import scheduler, seen, warehouse

        bloom_from_rows = seen.PartitionedBloom.__dict__["from_rows"]
        targets = [
            (scheduler.Crawler, "run_round", "scheduler.round"),
            (scheduler.Crawler, "__init__", "canonical.index_build"),
            (warehouse.Warehouse, "commit_round", "warehouse.commit"),
            (scheduler, "rank_and_key", "seen.rank_and_key"),
        ][: None if self.full else 1]
        originals = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in targets]
        try:
            for obj, attr, name in targets:
                setattr(obj, attr, self._wrap(name, getattr(obj, attr)))
            if self.full:
                seen.PartitionedBloom.from_rows = classmethod(
                    self._wrap("seen.bloom_from_rows", bloom_from_rows.__func__)
                )
            yield self
        finally:
            for obj, attr, fn in originals:
                setattr(obj, attr, fn)
            seen.PartitionedBloom.from_rows = bloom_from_rows

    # -- derived numbers ----------------------------------------------------
    def named(self, name: str, within: Span | None = None) -> list[Span]:
        """Spans called ``name``, optionally only those inside ``within``."""
        return [
            s for s in self.spans
            if s.name == name
            and (within is None or within.start <= s.start <= within.end)
        ]

    def self_time(self, span: Span) -> float:
        """Span duration minus the part of it its direct children cover."""
        me = self.spans.index(span)
        kids = sorted(
            (s.start, s.end) for s in self.spans if s.parent == me
        )
        return span.dur - covered(kids, span.start, span.end)

    def to_json(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent}
            for s in self.spans
        ]


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
