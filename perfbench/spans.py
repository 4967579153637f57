"""Spans, the py4j call counter and the per-layer self-time table.

Spans are kept in memory and written out once, when the worker ends.
A span is (id, parent, name, op, start, end) plus free-form attributes;
times are epoch seconds so Spark's status-store timestamps (epoch
milliseconds) line up with them.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager


class Tracer:
    """Records layer spans in memory."""

    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int, **attrs):
        sid = next(self._ids)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "op": op,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, op: int, parent: int | None, start: float, end: float, **attrs) -> dict:
        """Record a span whose times are already known (Spark jobs and
        stages rebuilt from the status store)."""
        rec = {"id": next(self._ids), "parent": parent, "name": name, "op": op,
               "start": start, "end": end, **attrs}
        self.spans.append(rec)
        return rec

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
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


def self_times(spans: list[dict]) -> dict[str, dict]:
    """Per span name: count, total seconds and self seconds, where a
    span's self time is its duration minus the part of it that its
    children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    table: dict[str, dict] = {}
    for s in spans:
        dur = s["end"] - s["start"]
        own = dur - _covered(children.get(s["id"], []), s["start"], s["end"])
        row = table.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
        row["count"] += 1
        row["total_s"] += dur
        row["self_s"] += own
    return table


def format_self_times(table: dict[str, dict]) -> str:
    lines = [f"{'span':<44} {'count':>6} {'total_s':>10} {'self_s':>10}"]
    for name, row in sorted(table.items(), key=lambda kv: -kv[1]["self_s"]):
        lines.append(f"{name:<44} {row['count']:>6} {row['total_s']:>10.4f} {row['self_s']:>10.4f}")
    return "\n".join(lines)


class Py4jCounter:
    """Counts py4j round trips by wrapping the gateway client's
    ``send_command``. Counting is off until ``counting`` is set, so the
    benchmark's own status reads are never counted. Memory commands are
    not counted: py4j sends one whenever Python's garbage collector
    frees a Java proxy, at times no caller controls, so counting them
    would make the count differ between identical calls."""

    def __init__(self, spark):
        from py4j.protocol import MEMORY_COMMAND_NAME

        self.client = spark.sparkContext._gateway._gateway_client
        self.calls = 0
        self.counting = False
        inner = self.client.send_command

        def send_command(command, *args, **kwargs):
            if self.counting and not command.startswith(MEMORY_COMMAND_NAME):
                self.calls += 1
            return inner(command, *args, **kwargs)

        self._inner = inner
        self.client.send_command = send_command

    @contextmanager
    def count(self):
        """Yield a one-entry list that holds the calls made inside."""
        out = [0]
        before = self.calls
        self.counting = True
        try:
            yield out
        finally:
            self.counting = False
            out[0] = self.calls - before

    def close(self) -> None:
        self.client.send_command = self._inner
