"""Arithmetic the benchmark reports: percentiles, self time, failure
ratio and wave latency. Pure functions over plain Python values, so
the tests in ``perfbench/tests`` pin them without Spark."""

from __future__ import annotations

import math
import statistics

# Percentiles a timing may be reported at, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p%
    of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def tail_percentile(values: list[float], min_beyond: int = MIN_BEYOND):
    """Highest percentile on ``TAIL_LADDER`` with at least ``min_beyond``
    samples strictly above it, as ``(p, value)``; ``None`` when even
    the median has fewer."""
    if not values:
        return None
    for p in TAIL_LADDER:
        v = percentile(values, p)
        if sum(1 for x in values if x > v) >= min_beyond:
            return p, v
    return None


def summarize(values: list[float]) -> dict:
    """Median, tail percentile and sample count of one timing."""
    tail = tail_percentile(values)
    return {
        "n": len(values),
        "median": statistics.median(values) if values else None,
        "tail_p": tail[0] if tail else None,
        "tail": tail[1] if tail else None,
    }


def fail_ratio(attempted: int, failed: int) -> float:
    """Operations that raised or failed their output check over the
    operations attempted."""
    if attempted < 1:
        raise ValueError("no operation attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..{attempted}")
    return failed / attempted


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time per span id: its duration minus the part of its
    interval covered by its direct children. Overlapping children
    count their union once. Spans are dicts with ``id``, ``parent``
    (an id or None), ``start`` and ``end``."""
    children: dict = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, lo_run, hi_run = 0.0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
            if hi <= lo:
                continue
            if hi_run is None or lo > hi_run:
                if hi_run is not None:
                    covered += hi_run - lo_run
                lo_run, hi_run = lo, hi
            else:
                hi_run = max(hi_run, hi)
        if hi_run is not None:
            covered += hi_run - lo_run
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def wave_latencies(manifests: list[dict]) -> list[float]:
    """Seconds between consecutive ``committed_at`` stamps of a table's
    snapshot manifests (any order): the first commit opens the crawl,
    each later one closes a wave."""
    ts = sorted(m["committed_at"] for m in manifests)
    return [b - a for a, b in zip(ts, ts[1:])]
