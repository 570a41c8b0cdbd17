"""Pure functions behind the benchmark's metrics (specs: tests/test_stats.py)."""

import math
import random


def pass_orders(seed, n_ops, n_passes):
    """Seeded run order of every pass: a list of ``n_passes`` permutations
    of ``range(n_ops)``. The same arguments always give the same orders."""
    rng = random.Random(seed * 1_000_003 + n_ops)
    orders = []
    for _ in range(n_passes):
        order = list(range(n_ops))
        rng.shuffle(order)
        orders.append(order)
    return orders


def geomean(values):
    """Geometric mean of positive values."""
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail(values, min_beyond=10):
    """The highest percentile with at least ``min_beyond`` samples beyond it.

    Returns ``(percentile, value, n)``: with ``n`` samples the percentile is
    ``100 * (n - min_beyond) / n`` and the value is the sample at that rank,
    so exactly ``min_beyond`` samples lie above it. Raises when there are
    not more than ``min_beyond`` samples.
    """
    xs = sorted(values)
    n = len(xs)
    if n <= min_beyond:
        raise ValueError(f"tail needs more than {min_beyond} samples, got {n}")
    return 100.0 * (n - min_beyond) / n, xs[n - min_beyond - 1], n


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
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


def clip(intervals, start, end):
    """Intervals cut to the window [start, end]; empty ones are dropped."""
    out = []
    for s, e in intervals:
        s, e = max(s, start), min(e, end)
        if e > s:
            out.append((s, e))
    return out


def idle_and_gap(window, tasks, cores):
    """Scheduler slack of one call window.

    ``idle`` is ``cores`` x window length minus the summed task time inside
    the window (free task slots); ``gap`` is the part of the window in which
    no task runs at all.
    """
    start, end = window
    inside = clip(tasks, start, end)
    busy = sum(e - s for s, e in inside)
    length = end - start
    return cores * length - busy, length - union_length(inside)
