"""Pure-Python statistics helpers: percentiles with a sample floor,
latency summaries, interval unions and span self times."""

from __future__ import annotations

import math
import statistics

#: a percentile is reported only when this many samples lie beyond it
MIN_BEYOND = 10


def samples_beyond(n: int, q: float) -> int:
    """Samples strictly above the q-th percentile rank of ``n`` samples."""
    return n - math.ceil(n * q / 100.0)


def percentile(samples, q: float, min_beyond: int = MIN_BEYOND) -> float:
    """q-th percentile (linear interpolation between order statistics).

    Raises ValueError when fewer than ``min_beyond`` samples lie beyond
    it: a tail read off a handful of samples is noise, not a tail."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0 or samples_beyond(n, q) < min_beyond:
        raise ValueError(
            f"p{q:g} needs {min_beyond} samples beyond it; "
            f"{n} samples leave {max(0, samples_beyond(n, q))}"
        )
    pos = (n - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def latency_summary(samples) -> dict:
    """Median, p90 (only when it has enough samples beyond it), the
    sample count, and the medians of the window's first and second
    halves (a drift between them means the window was still warming)."""
    xs = list(samples)
    out = {"n": len(xs)}
    if not xs:
        return out
    out["p50"] = statistics.median(xs)
    try:
        out["p90"] = percentile(xs, 90)
    except ValueError:
        pass
    half = len(xs) // 2
    if half:
        out["first_half_p50"] = statistics.median(xs[:half])
        out["second_half_p50"] = statistics.median(xs[half:])
    return out


def interval_union(intervals, lo: float = -math.inf, hi: float = math.inf) -> float:
    """Total length covered by ``intervals`` (pairs of start, end) after
    clipping them to [lo, hi]; overlaps count once."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans) -> dict:
    """Span id -> duration minus the part of its interval covered by its
    direct children. ``spans`` are dicts with id, parent, start, end."""
    children: dict = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - interval_union(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }
