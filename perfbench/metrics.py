"""Turns the harness's raw observations into the benchmark's metrics.

Pure functions over plain data, so tests/test_metrics.py can pin each
rule (tail percentile, span self time, event-to-span attribution)
without a JVM.
"""
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it, i.e. the (n-10)-th smallest of n samples, read as
    percentile 100*(n-10)/n. With ten samples or fewer no such
    percentile exists and the maximum is reported as percentile 100."""
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    s = sorted(xs)
    if n <= 10:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def covered(intervals):
    """Total length of the union of (start, end) intervals."""
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


def self_times(spans):
    """span id -> duration minus the part of it its child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        inside = [(max(a, s["start"]), min(b, s["end"]))
                  for a, b in kids.get(s["id"], []) if b > s["start"] and a < s["end"]]
        out[s["id"]] = (s["end"] - s["start"]) - covered(inside)
    return out


def innermost(spans, t):
    """The span open at time t that started last (the innermost, since
    one client thread nests its calls), or None."""
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
            best = s
    return best


def attribute(spans, events):
    """span id -> list of events whose start falls in it innermost."""
    out = {}
    for e in events:
        s = innermost(spans, e["start"])
        if s is not None:
            out.setdefault(s["id"], []).append(e)
    return out


def in_window(events, start, end):
    return [e for e in events if start <= e["start"] <= end]
