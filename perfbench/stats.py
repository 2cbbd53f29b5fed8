"""Summary statistics and the traced run's per-layer rollup."""
import collections
import math

# Tail percentiles the benchmark may report, highest first.
LADDER = (99, 95, 90, 75, 50)
# A percentile is reported only when at least this many samples lie
# beyond it; otherwise the tail is a single draw.
MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile (p in 0..100) of a non-empty sample."""
    s = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def median(values):
    return percentile(values, 50)


def tail(values):
    """(p, value, n): the highest percentile of LADDER with at least
    MIN_BEYOND samples beyond it, or (None, None, n) if none qualifies."""
    n = len(values)
    for p in LADDER:
        if n * (100 - p) / 100.0 >= MIN_BEYOND:
            return p, percentile(values, p), n
    return None, None, n


def self_times(spans):
    """Per span name: (count, total ms, self ms), where self time is the
    span's duration minus the part of it its children cover."""
    children = collections.defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    out = collections.defaultdict(lambda: [0, 0.0, 0.0])
    for s in spans:
        start, end = s["start_ns"], s["end_ns"]
        covered, last = 0, start
        for c in sorted(children.get(s["id"], ()), key=lambda c: c["start_ns"]):
            lo, hi = max(c["start_ns"], last), min(c["end_ns"], end)
            if hi > lo:
                covered += hi - lo
                last = hi
        row = out[s["name"]]
        row[0] += 1
        row[1] += (end - start) / 1e6
        row[2] += (end - start - covered) / 1e6
    return {k: tuple(v) for k, v in out.items()}
