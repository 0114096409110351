"""In-memory span recorder for the traced run.

A span is (name, start, end, parent, run id), with times in epoch
seconds so spans recorded in Python line up with the timestamps Spark
puts in streaming progress reports. Spans stay in memory and are
written out once, when the run ends.

A span's self time is its duration minus the part of its interval that
its children cover (overlapping children count once).
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
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


class Tracer:
    """Records spans while ``enabled``; otherwise wrappers pass through."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[Span] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> int:
        sid = len(self.spans)
        self.spans.append(Span(sid, name, start, end, parent, self.run_id))
        return sid

    def wrap(self, name: str, fn):
        """``fn`` with a span around each call made while enabled."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                self.add(name, t0, time.time())

        return traced

    def adopt(self, parent_name: str, child_names: set[str], slack: float = 0.0) -> None:
        """Give each parentless span in ``child_names`` the ``parent_name``
        span whose interval, widened by ``slack`` seconds, holds its start
        (for parents rebuilt from coarser clocks)."""
        parents = sorted((s for s in self.spans if s.name == parent_name), key=lambda s: s.start)
        for s in self.spans:
            if s.parent is None and s.name in child_names:
                for p in parents:
                    if p.start - slack <= s.start <= p.end + slack:
                        s.parent = p.id
                        break

    def self_times(self) -> dict[str, float]:
        """Total self time per span name."""
        kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append((s.start, s.end))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += s.dur - covered(kids[s.id], s.start, s.end)
        return dict(out)

    def totals(self) -> dict[str, tuple[int, float]]:
        """(count, summed duration) per span name."""
        out: dict[str, list] = defaultdict(lambda: [0, 0.0])
        for s in self.spans:
            out[s.name][0] += 1
            out[s.name][1] += s.dur
        return {k: (n, d) for k, (n, d) in out.items()}

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")
