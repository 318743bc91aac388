"""Statistics and span arithmetic for the benchmark (pure functions)."""

import statistics

# Percentiles reported for a tail, highest first.
TAIL_LADDER = (99.0, 95.0, 90.0, 75.0)


def percentile(values, p):
    """The p-th percentile (0-100), linear between closest ranks."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n):
    """Highest percentile in TAIL_LADDER with at least ten of n samples
    above it; the median when none qualifies."""
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= 10:
            return p
    return 50.0


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def summary(values):
    """Median, quartiles, count and tail percentile of a sample."""
    q1, med, q3 = quartiles(values)
    p = tail_percentile(len(values))
    return {"n": len(values), "p50": med, "q1": q1, "q3": q3,
            "tail_p": p, "tail": percentile(values, p)}


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
    """Map span id -> its duration minus the part of it that its direct
    children cover (each child clipped to the parent's interval)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        clipped = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                   for c in kids.get(s["id"], [])]
        clipped = [(a, b) for a, b in clipped if b > a]
        out[s["id"]] = (s["end"] - s["start"]) - covered(clipped)
    return out


def self_time_by_run(spans, name):
    """For each run id, the summed self time of the spans called `name`."""
    st = self_times(spans)
    out = {}
    for s in spans:
        if s["name"] == name:
            out[s["run"]] = out.get(s["run"], 0.0) + st[s["id"]]
    return out
