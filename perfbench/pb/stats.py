"""Percentiles and span self-time arithmetic."""
import math

# Percentiles a timing may be reported at, lowest first.
PERCENTILES = (50, 75, 90, 95, 99)
MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def beyond(n, p):
    """Samples strictly above the nearest-rank p-th percentile of n."""
    return n - max(1, math.ceil(p / 100.0 * n))


def highest_reportable(n, candidates=PERCENTILES):
    """The highest percentile with at least MIN_BEYOND samples beyond it,
    or None when even the median has fewer."""
    ok = [p for p in candidates if beyond(n, p) >= MIN_BEYOND]
    return max(ok) if ok else None


def self_times(spans):
    """Exclusive time per span name, in the span time unit.

    `spans` is a list of (name, start, end) of one request. Every instant
    covered by some span is charged to exactly one span: the innermost
    active one, taken as the one that started last (ties: the one that
    ends first). So the self times sum to the length of the union of all
    spans, and a span's self time is its duration minus the part of it
    that spans started inside it cover."""
    pts = sorted({t for _, s, e in spans for t in (s, e)})
    out = {}
    for a, b in zip(pts, pts[1:]):
        active = [(s, -e, i) for i, (_, s, e) in enumerate(spans) if s <= a and e >= b]
        if not active:
            continue
        _, _, i = max(active)
        name = spans[i][0]
        out[name] = out.get(name, 0) + (b - a)
    return out
