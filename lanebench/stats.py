"""Statistics the lane benchmark reports: medians, the percentile rule,
recall against planted truth, span self time and run-to-run spread."""
import math
import statistics


def median(values):
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def percentile(values, p):
    """The p-th percentile (nearest rank), or None unless at least ten
    samples lie strictly beyond the percentile's rank: a p99 needs 1000
    samples, a p90 needs 100."""
    n = len(values)
    if n == 0:
        return None
    rank = math.ceil(p / 100.0 * n)
    if n - rank < 10:
        return None
    return float(sorted(values)[rank - 1])


def freshness_ms(walls_s, per_unit=1000):
    """Record latencies of a lane that runs fixed units back to back, in
    ms. Records are due evenly while the previous unit runs and are
    committed when the next unit ends, so a record due at fraction u of
    that interval waits (1 - u) * D + D for a unit of D seconds.
    `per_unit` evenly spaced records stand for each unit."""
    return [1e3 * d * (2.0 - (j + 0.5) / per_unit)
            for d in walls_s for j in range(per_unit)]


def recall(found_pairs, planted, threshold):
    """Share of planted pairs with true Jaccard >= threshold that appear
    in `found_pairs`. Pairs are unordered; `planted` holds
    (a, b, true_jaccard) triples."""
    want = {(min(a, b), max(a, b)) for a, b, j in planted if j >= threshold}
    if not want:
        raise ValueError("no planted pair reaches the threshold")
    found = {(min(a, b), max(a, b)) for a, b in found_pairs}
    return len(want & found) / len(want)


def _covered(intervals):
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        elif e > cur_e:
            cur_e = e
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Map span id -> self time: the span's duration minus the part of
    its interval covered by its direct children (clipped to the parent,
    overlapping children counted once)."""
    kids = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        cover = _covered([(max(c["start"], lo), min(c["end"], hi))
                          for c in kids.get(s["id"], [])
                          if c["end"] > lo and c["start"] < hi])
        out[s["id"]] = (hi - lo) - cover
    return out


def self_time_by_name(spans):
    """Sum of self times per span name."""
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]]
    return out


def spread(values):
    """Distance between the first and third quartile as a share of the
    median (statistics.quantiles, exclusive method)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
