"""Reductions from the JVM's raw samples to the benchmark's metrics.

Pure functions over plain lists and dicts, so the rules are tested on their
own (tests/test_metrics.py): the median, the tail-percentile rule, span self
time, and failure counting.
"""
import statistics

TAIL_BEYOND = 10


def median(values):
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def tail(values, beyond=TAIL_BEYOND):
    """The highest percentile that has at least ``beyond`` samples above it.

    With the n samples sorted ascending, that is the (n - beyond)-th smallest
    (1-based): exactly ``beyond`` samples lie beyond it. Returns
    ``(value, percentile, n)``; the percentile is 100 * (n - beyond) / n.
    Fewer than ``beyond + 1`` samples have no such percentile: ValueError.
    """
    n = len(values)
    if n <= beyond:
        raise ValueError(f"{n} samples: a tail needs more than {beyond}")
    k = n - beyond
    return sorted(values)[k - 1], 100.0 * k / n, n


def union_ms(intervals):
    """Total length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_ms(span, children):
    """A span's duration minus the part of it its children cover.

    ``span`` and each child are ``(start_ms, end_ms)``; children may overlap
    each other or stick out of the span, and only the covered part of the
    span's own interval is subtracted.
    """
    s, e = span
    return (e - s) - union_ms(clip(children, s, e))


def count_failures(execs, expected):
    """Failed executions: a thrown query, or output that differs from what
    is expected of it.

    ``execs`` are the JVM's execution records (``query``, ``error``,
    ``observed``); ``expected`` maps a query name to the observed fields it
    must show (e.g. ``{"rows": "12", "hash": "-5"}``); a query with no entry
    has nothing to compare. Returns ``(attempted, failed, reasons)`` where
    ``reasons`` maps each failing name to its first reason.
    """
    failed, reasons = 0, {}
    for e in execs:
        why = None
        if e.get("error"):
            why = e["error"]
        else:
            want = expected.get(e["query"], {})
            got = e.get("observed", {})
            bad = [k for k, v in want.items() if got.get(k) != v]
            if bad:
                why = "output differs: " + ", ".join(
                    f"{k}={got.get(k)} (want {want[k]})" for k in bad)
        if why:
            failed += 1
            reasons.setdefault(e["query"], why)
    return len(execs), failed, reasons
