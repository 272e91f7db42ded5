"""Spans, counters and module-attribute wrapping for the traced run.

A :class:`Tracer` keeps spans (name, start, end, parent, op id) in
memory. Disabled, every method is a no-op, so the untraced run pays
nothing. Spans nest on one thread; a span's self time is its duration
minus the durations of its direct children, so the self times of a
tree add up exactly to the duration of its root.
"""

from __future__ import annotations

import functools
import json
import time
from collections import Counter, defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self._stack: list[int] = []
        self._op: str | None = None
        self._patched: list[tuple[object, str, object]] = []
        self._counting = 0

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": op if op is not None else self._op,
            "start": time.perf_counter(),
            "epoch_ms": time.time() * 1000.0,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        prev_op, self._op = self._op, rec["op"]
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["end_epoch_ms"] = time.time() * 1000.0
            self._stack.pop()
            self._op = prev_op

    @contextmanager
    def paused(self):
        """No spans or counts inside (the probe's own calls into the
        program must not be charged to a layer)."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def count(self, name: str, n: int = 1) -> None:
        if self.enabled and self._op is not None:
            self.counts[(self._op, name)] += n

    # -- wrapping public module attributes --------------------------------
    def wrap(self, module, attr: str, span_name: str, on_call=None) -> None:
        """Replace ``module.attr`` with a wrapper that opens ``span_name``
        around each call. ``on_call(args, kwargs)`` may return a span
        name that overrides ``span_name`` for that call."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            name = (on_call(args, kwargs) if on_call else None) or span_name
            with self.span(name):
                return orig(*args, **kwargs)

        self._patched.append((module, attr, orig))
        setattr(module, attr, wrapper)

    def wrap_counter(self, module, attr: str, counter: str) -> None:
        """Count calls of ``module.attr`` under ``counter``; calls made
        from inside another counted call are not counted again."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if self._counting == 0:
                self.count(counter)
            self._counting += 1
            try:
                return orig(*args, **kwargs)
            finally:
                self._counting -= 1

        self._patched.append((module, attr, orig))
        setattr(module, attr, wrapper)

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    # -- derived numbers ---------------------------------------------------
    def closed(self) -> list[dict]:
        return [s for s in self.spans if "end" in s]

    def self_times(self) -> dict[int, float]:
        """Span id -> self time in seconds."""
        spans = self.closed()
        child_time: dict[int, float] = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: (s["end"] - s["start"]) - child_time[s["id"]] for s in spans}

    def ledger(self, root_name: str) -> dict:
        """Self time per span name under the roots called ``root_name``.

        The roots' own self time is the unattributed remainder; the
        attributed rows plus it equal the roots' total wall."""
        spans = self.closed()
        by_id = {s["id"]: s for s in spans}
        selft = self.self_times()

        def root_of(s):
            while s["parent"] is not None:
                s = by_id[s["parent"]]
            return s

        rows: dict[str, float] = defaultdict(float)
        wall = unattributed = 0.0
        for s in spans:
            r = root_of(s)
            if r["name"] != root_name:
                continue
            if s is r:
                wall += s["end"] - s["start"]
                unattributed += selft[s["id"]]
            else:
                rows[s["name"]] += selft[s["id"]]
        return {
            "wall_s": wall,
            "unattributed_s": unattributed,
            "attributed_s": sum(rows.values()),
            "self_s": dict(sorted(rows.items())),
        }

    def dump(self, path: str, extra: dict) -> None:
        out = {
            "spans": [
                {k: s[k] for k in ("id", "name", "parent", "op", "start", "end")}
                for s in self.closed()
            ],
            "counts": [
                {"op": op, "name": name, "n": n}
                for (op, name), n in sorted(self.counts.items())
            ],
            **extra,
        }
        with open(path, "w") as f:
            json.dump(out, f, indent=1, default=str)
