"""Statistics the benchmark reports: percentiles with their sample support,
quartile spread, open-loop lateness and span self time."""
import math
import statistics

# A percentile is supported when at least this many samples lie beyond it.
SUPPORT = 10


def percentile(samples, q):
    """Nearest-rank q-th percentile of `samples`, a list of values or of
    (value, weight) pairs. Returns (value, sample count, supported)."""
    pairs = sorted((s if isinstance(s, tuple) else (s, 1)) for s in samples)
    n = sum(w for _, w in pairs)
    if n == 0:
        raise ValueError("no samples")
    rank = max(1, math.ceil(q / 100.0 * n))
    seen = 0
    for value, w in pairs:
        seen += w
        if seen >= rank:
            break
    return value, n, n - rank >= SUPPORT


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    return tuple(statistics.quantiles(values, n=4))


def spread(values):
    """Distance between the first and third quartile, as a share of the
    median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2


def lateness(files):
    """Open-loop lateness: how long after its due time each file became
    visible to the source. `files` holds dicts with due_ms and visible_ms.
    Returns (max ms, mean ms, files later than one tick apart)."""
    late = [f["visible_ms"] - f["due_ms"] for f in files]
    if not late:
        return 0.0, 0.0, 0
    ticks = sorted(f["due_ms"] for f in files)
    tick = min((b - a for a, b in zip(ticks, ticks[1:])), default=0)
    return max(late), sum(late) / len(late), sum(1 for x in late if tick and x > tick)


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    its children cover. Returns {span id: ms}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        covered, cur = 0.0, None
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ms"]):
            a, b = max(lo, c["start_ms"]), min(hi, c["end_ms"])
            if b <= a:
                continue
            if cur and a <= cur[1]:
                cur[1] = max(cur[1], b)
            else:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [a, b]
        if cur:
            covered += cur[1] - cur[0]
        out[s["id"]] = max(0.0, (hi - lo) - covered)
    return out
