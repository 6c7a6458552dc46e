"""Pure arithmetic of the benchmark: tail percentile, span self time and
the per-pass layer breakdown. Imports nothing from Spark, so the unit
tests run without a session."""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field

# A tail percentile is reported only where at least this many samples
# lie beyond it, so that one slow sample cannot set it alone.
TAIL_MIN_BEYOND = 10


def tail_percentile(samples: list[float]) -> tuple[float, float]:
    """Highest percentile that still has ``TAIL_MIN_BEYOND`` samples
    beyond it: the sample ranked ``TAIL_MIN_BEYOND + 1`` from the top.
    Returns ``(value, percentile)``; needs more than ``TAIL_MIN_BEYOND``
    samples."""
    n = len(samples)
    if n <= TAIL_MIN_BEYOND:
        raise ValueError(
            f"{n} samples: a tail needs more than {TAIL_MIN_BEYOND}"
        )
    ordered = sorted(samples)
    return ordered[n - TAIL_MIN_BEYOND - 1], 100.0 * (n - TAIL_MIN_BEYOND) / n


@dataclass
class Span:
    """One timed interval of the traced run. ``start``/``end`` are epoch
    seconds, so they line up with Spark's event-log timestamps."""

    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    children: list["Span"] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def self_time(span: Span) -> float:
    """Span duration minus the part of it its children cover."""
    return span.duration - covered(
        [(c.start, c.end) for c in span.children], span.start, span.end
    )


def walk(span: Span):
    yield span
    for child in span.children:
        yield from walk(child)


def median_of(rows: list[dict], key: str) -> float:
    return statistics.median(r.get(key, 0.0) for r in rows) if rows else 0.0


def layer_self_times(pass_span: Span, streaming_s: float = 0.0) -> dict[str, float]:
    """Self time of each layer within one pass. A closed loop with one
    client blocks on every step, so every step is on the blocking path.

    - ``catalog``: ``catalog`` spans (table resolution)
    - ``operators``: ``build`` self time, less the streaming drain that
      runs inside the build call
    - ``streaming``: micro-batch trigger time (from the event log)
    - ``exec``: ``execute`` spans (forced execution)
    - ``driver``: the pass's own self time (loop and bookkeeping)
    """
    out = {"catalog": 0.0, "operators": 0.0, "streaming": streaming_s, "exec": 0.0}
    for s in walk(pass_span):
        if s.name == "catalog":
            out["catalog"] += s.duration
        elif s.name == "build":
            out["operators"] += self_time(s)
        elif s.name == "execute":
            out["exec"] += s.duration
    out["operators"] = max(0.0, out["operators"] - streaming_s)
    out["driver"] = self_time(pass_span) + sum(self_time(c) for c in pass_span.children)
    return out
