"""Percentiles, tail selection and span self time for the benchmark.

Kept free of I/O so `test_stats.py` can check the arithmetic directly.
"""

# Percentiles a tail may be reported at, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
# A tail percentile must have at least this many samples beyond it.
MIN_BEYOND = 10


def percentile(values, p):
    """Linear-interpolated percentile `p` (0..100) of a non-empty sample."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of an empty sample")
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail(values):
    """The highest percentile with at least MIN_BEYOND samples beyond it.

    Returns (label, value). A sample too small for any ladder rung reports
    its maximum, labelled "max".
    """
    n = len(values)
    for p in TAIL_LADDER:
        if round(n * (100.0 - p) / 100.0, 9) >= MIN_BEYOND:
            return ("p%g" % p, percentile(values, p))
    return ("max", max(values))


def summary(values):
    """Median, tail and count of a timing sample."""
    label, t = tail(values)
    return {"p50": percentile(values, 50), "tail": t, "tail_label": label,
            "n": len(values)}


def self_times(spans):
    """Self time of every span: its duration minus the part of its interval
    that its children cover. Overlapping children count once, and a child
    that sticks out of its parent counts only inside it.

    `spans` are dicts with id, parent, start_us and end_us. Returns
    {id: self_us}.
    """
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_us"], s["end_us"]
        covered = 0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_us"]):
            a, b = max(c["start_us"], lo), min(c["end_us"], hi)
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def self_time_by_name(spans):
    """Total self time per span name, in microseconds."""
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0) + st[s["id"]]
    return out
