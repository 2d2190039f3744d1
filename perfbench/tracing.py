"""In-memory spans and the per-layer table built from them.

A span is one timed interval at a layer boundary: ``name`` (the layer
and what it did), ``trace`` (the id shared by every span of one batch,
drain or refresh), ``parent`` (the span that caused it) and wall-clock
``start``/``end`` in seconds. Spans stay in memory until ``dump``.

The engine is not instrumented: spans come from the benchmark's own
calls into the package and from Spark's public ``StreamingQueryProgress``
(``progress_spans``).
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from datetime import datetime

# Trigger phases in the order the micro-batch engine runs them.
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []

    def add(self, name: str, trace: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int | None:
        if not self.enabled:
            return None
        self.spans.append(dict(id=len(self.spans), name=name, trace=trace, parent=parent,
                               start=start, end=end, **attrs))
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, trace: str, parent: int | None = None, **attrs):
        """Time the body as one span; yields the span id (None when off)
        so nested spans can name it as parent."""
        if not self.enabled:
            yield None
            return
        sid = self.add(name, trace, time.time(), 0.0, parent, **attrs)
        try:
            yield sid
        finally:
            self.spans[sid]["end"] = time.time()

    def find(self, name: str, trace: str) -> int | None:
        """Id of the span called ``name`` in ``trace``, if any."""
        return next((s["id"] for s in self.spans if s["name"] == name and s["trace"] == trace),
                    None)

    def layer_table(self) -> dict[str, dict]:
        """Per span name: count, p50 and total duration, and self time
        (duration minus the part of it child spans cover), in ms."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        rows: dict[str, dict] = {}
        for s in self.spans:
            dur = max(0.0, s["end"] - s["start"])
            covered = _covered(s, children.get(s["id"], []))
            r = rows.setdefault(s["name"], {"count": 0, "durations": [], "self_ms": 0.0})
            r["count"] += 1
            r["durations"].append(dur * 1e3)
            r["self_ms"] += (dur - covered) * 1e3
        return {
            name: {
                "count": r["count"],
                "p50_ms": statistics.median(r["durations"]),
                "total_ms": sum(r["durations"]),
                "self_ms": r["self_ms"],
            }
            for name, r in sorted(rows.items())
        }

    def dump(self, path: str, **extra) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "layers": self.layer_table(), **extra}, f, indent=1)


def _covered(span: dict, kids: list[dict]) -> float:
    """Length of the union of the children's intervals inside ``span``."""
    ivs = sorted((max(k["start"], span["start"]), min(k["end"], span["end"])) for k in kids)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def progress_spans(tracer: Tracer, layer: str, progress: dict, trace: str,
                   caused_by: int | None) -> None:
    """One span per micro-batch from its progress report, with the
    ``durationMs`` phases as children. Spark reports phase lengths but
    not their start times, so children are laid end to end from the
    trigger start in engine order. ``caused_by`` is the benchmark span
    that waited for the batch."""
    start = _iso_seconds(progress["timestamp"])
    dur = progress["durationMs"]
    parent = tracer.add(f"{layer}.batch", trace, start, start + dur.get("triggerExecution", 0) / 1e3,
                        caused_by, batch=progress["batchId"], rows=progress.get("numInputRows", 0))
    t = start
    for phase in PHASES:
        ms = dur.get(phase, 0)
        tracer.add(f"{layer}.{phase}", trace, t, t + ms / 1e3, parent)
        t += ms / 1e3


def _iso_seconds(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()
