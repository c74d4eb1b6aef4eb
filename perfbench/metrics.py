"""Percentiles, failure accounting and the per-layer summary of one run."""

import math
import statistics


def percentile(values, pct):
    """Nearest-rank percentile: the smallest value with at least `pct`
    percent of the values at or below it."""
    if not values:
        raise ValueError("percentile of no values")
    v = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(v)))
    return v[rank - 1]


def tail_pct(n, beyond=10):
    """The highest whole percentile that leaves at least `beyond` of `n`
    samples above it, or None when `n` is too small for any."""
    best = None
    for p in range(1, 100):
        if n - math.ceil(p / 100.0 * n) >= beyond:
            best = p
    return best


def quartile_spread(values):
    """(Q3 - Q1) / median, with quartiles as statistics.quantiles gives them."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def account(ops, failed_names):
    """(attempted, failed): every operation counts once; it fails when it
    raised or when the output check of its query failed."""
    failed = sum(1 for o in ops if not o["ok"] or o["name"] in failed_names)
    return len(ops), failed


def layer_medians(ops, names):
    """Median of each per-layer value over the operations that carry it."""
    out = {}
    for name in names:
        vals = [o[name] for o in ops if name in o]
        if vals:
            out[name] = statistics.median(vals)
    return out


def name_medians(ops):
    """Median latency of each operation name over the operations that
    completed."""
    by = {}
    for o in ops:
        if o["ok"]:
            by.setdefault(o["name"], []).append(o["latency_s"])
    return {k: statistics.median(v) for k, v in by.items()}


def overhead_pct(traced, untraced):
    """Tracing overhead in percent: the summed per-name median latencies
    of a traced run over those of an untraced run, on the names both
    have. `traced` and `untraced` are name_medians results."""
    common = set(traced) & set(untraced)
    plain = sum(untraced[n] for n in common)
    return 100.0 * (sum(traced[n] for n in common) / plain - 1.0) if plain > 0 else None
