"""Small, dependency-free arithmetic the benchmark reports with.

Kept separate from the Spark code so the rules can be unit-tested
without a session: the percentile rule, ratios that carry their base,
quartile spread, and span self time.
"""

from __future__ import annotations

import statistics

# Percentiles the report may use, lowest first. A percentile is reported
# only when at least MIN_BEYOND samples lie beyond it.
PERCENTILE_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default rule)."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    rank = (len(xs) - 1) * p / 100.0
    lo = int(rank)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie strictly above the p-th percentile
    position (rank (n-1)*p/100)."""
    rank = (n - 1) * p / 100.0
    return n - 1 - int(rank)


def tail_percentile(n: int) -> float | None:
    """Highest ladder percentile with at least MIN_BEYOND samples beyond
    it, or None when even the median lacks them."""
    best = None
    for p in PERCENTILE_LADDER:
        if samples_beyond(n, p) >= MIN_BEYOND:
            best = p
    return best


def summarize_ms(values_s: list[float]) -> dict:
    """Median and the highest supported tail of a list of seconds, in ms,
    with the sample count stated."""
    n = len(values_s)
    ms = [v * 1000.0 for v in values_s]
    out = {"n": n, "p50_ms": percentile(ms, 50.0) if ms else None}
    tail = tail_percentile(n)
    if tail is not None and tail > 50.0:
        out["tail_pct"] = tail
        out["tail_ms"] = percentile(ms, tail)
    return out


def ratio(num: float, base: float) -> dict:
    """A ratio reported together with its numerator and base."""
    return {
        "value": (num / base) if base else None,
        "num": num,
        "base": base,
    }


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as statistics.quantiles(n=4)
    gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float
             ) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi
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


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time per span id: duration minus the part of its interval
    that its direct children cover (overlapping children count once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - _covered(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def self_time_by_layer(spans: list[dict]) -> dict[str, float]:
    """Sum of span self times per layer, the first dotted part of the
    span name ('index.segments.term_stats' -> 'index')."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        layer = s["name"].split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + st[s["id"]]
    return out
