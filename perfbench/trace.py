"""In-memory spans recorded around the benchmark's calls into the engine.

A span has a name whose dotted prefix is its layer (``sink.kinesis.write``
belongs to ``sink.kinesis``), a start and end in seconds since the tracer
was made, the id of its parent span, and a group id shared by the spans of
one write, pass or micro-batch. Spans are kept in memory and written out
once, at the end of the run. A layer's self time is the time its spans
cover minus the part of that time their child spans cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

# The layers, named after the engine's modules; the longest matching
# prefix of a span name wins.
LAYERS = ("envelope", "sink.chunker", "sink.kinesis", "sources.kinesis_source", "streaming", "queries", "bench")


def layer_of(name: str) -> str:
    for layer in sorted(LAYERS, key=len, reverse=True):
        if name == layer or name.startswith(layer + "."):
            return layer
    return name.split(".", 1)[0]


class Tracer:
    """Records spans when ``enabled``; a disabled tracer costs one branch."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.epoch = time.perf_counter()
        self.wall_epoch = time.time()
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def now(self) -> float:
        return time.perf_counter() - self.epoch

    @contextmanager
    def span(self, name: str, group: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "group": group, "parent": self._stack[-1] if self._stack else None, "start": self.now(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = self.now()

    def add(self, name: str, group: str, start: float, end: float, parent: int | None = None) -> int:
        """Record a span measured elsewhere (times relative to ``epoch``)."""
        sid = len(self.spans)
        if self.enabled:
            self.spans.append({"id": sid, "name": name, "group": group, "parent": parent, "start": start, "end": end})
        return sid

    def self_times(self, lo: float, hi: float) -> dict[str, float]:
        """Self time per layer inside [lo, hi], in seconds."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            a, b = max(s["start"], lo), min(s["end"], hi)
            if b <= a:
                continue
            covered = union_length([(c["start"], c["end"]) for c in kids.get(s["id"], ())], a, b)
            layer = layer_of(s["name"])
            out[layer] = out.get(layer, 0.0) + (b - a) - covered
        return out

    def covered(self, start: float, end: float) -> float:
        """Seconds of [start, end] covered by root spans."""
        return union_length([(s["start"], s["end"]) for s in self.spans if s["parent"] is None], start, end)

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"wall_epoch": self.wall_epoch, "spans": self.spans}, f)


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
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


def layer_table(self_times: dict[str, float], wall: float, covered: float) -> str:
    lines = [f"{'layer':<24}{'self_s':>10}{'share':>8}"]
    for layer, s in sorted(self_times.items(), key=lambda kv: -kv[1]):
        lines.append(f"{layer:<24}{s:>10.3f}{s / wall:>8.1%}")
    lines.append(f"{'named spans cover':<24}{covered:>10.3f}{covered / wall:>8.1%} of {wall:.3f} s wall")
    return "\n".join(lines)
