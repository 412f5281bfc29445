"""In-memory spans for the traced benchmark run.

Spans are recorded from the benchmark's own code around calls into the
program's public functions (no span lives inside the program). Each span
has a name, start and end (``time.perf_counter`` seconds), the id of the
span that caused it, and optional attributes such as message counts.
Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import time


class Tracer:
    """Collects spans when ``enabled``; every method is a cheap no-op
    otherwise, so the timed code is the same in both kinds of run."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def record(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int | None:
        if not self.enabled:
            return None
        if parent is None and self._stack:
            parent = self._stack[-1]
        sid = len(self.spans)
        self.spans.append(
            {"id": sid, "name": name, "start": start, "end": end, "parent": parent, "attrs": attrs}
        )
        return sid

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Time the block as one span; spans opened inside it become its
        children. Yields the attribute dict so the block can add counts."""
        if not self.enabled:
            yield attrs
            return
        sid = self.record(name, time.perf_counter(), 0.0, **attrs)
        self._stack.append(sid)
        try:
            yield attrs
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.perf_counter()
            self.spans[sid]["attrs"] = attrs

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def summary(self) -> list[tuple[str, int, float]]:
        """(span name, count, total seconds), in first-seen order."""
        seen: dict[str, list] = {}
        for s in self.spans:
            acc = seen.setdefault(s["name"], [0, 0.0])
            acc[0] += 1
            acc[1] += s["end"] - s["start"]
        return [(n, c, t) for n, (c, t) in seen.items()]

    def write(self, path: str, **extra) -> None:
        with open(path, "w") as fh:
            json.dump({**extra, "spans": self.spans}, fh)


@contextlib.contextmanager
def traced_methods(tracer: Tracer, cls, names: tuple[str, ...], prefix: str):
    """Temporarily wrap ``cls``'s public methods so every call in this
    process records a span ``<prefix>.<method>``. A ``list`` result adds
    its length as ``msgs``. The original methods are restored on exit."""
    from pinot_pulsar_plugin_spark.sources.fakebroker import DEFAULT_MAX_MSGS

    saved = {n: cls.__dict__[n] for n in names}

    def wrap(name, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            t0 = time.perf_counter()
            out = fn(*args, **kwargs)
            attrs = {"msgs": len(out)} if isinstance(out, list) else {}
            if name == "fetch":
                attrs["max_msgs"] = kwargs.get("max_msgs", DEFAULT_MAX_MSGS)
            tracer.record(f"{prefix}.{name}", t0, time.perf_counter(), **attrs)
            return out

        return traced

    for n, fn in saved.items():
        setattr(cls, n, wrap(n, fn))
    try:
        yield
    finally:
        for n, fn in saved.items():
            setattr(cls, n, fn)


def median_or_zero(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0
