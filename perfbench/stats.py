"""Summary statistics shared by run.py and the tests."""
import math

MIN_BEYOND = 10


def percentile(values, p):
    """Linear-interpolated percentile (numpy's default) of a non-empty list."""
    xs = sorted(values)
    if len(xs) == 1:
        return float(xs[0])
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(values, cap=99.0):
    """(p, value): the highest whole percentile, at most `cap`, that leaves at
    least MIN_BEYOND samples above its rank (p90 for 100 samples, p64 for
    28). When that would not reach the median, the largest sample (p = 100)."""
    n = len(values)
    p = min(cap, math.floor(100.0 * (n - MIN_BEYOND) / n))
    if p < 50:
        return 100.0, float(max(values))
    return float(p), percentile(values, p)


def self_times(spans):
    """Self time per span name, in seconds.

    `spans` are dicts with `id`, `parent` (None for a root), `name`, `start`
    and `end` (seconds). A span's self time is its duration minus the part of
    its interval covered by its direct children; overlapping children count
    once. Returns {name: summed self seconds}.
    """
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            a, b = max(c["start"], s["start"]), min(c["end"], s["end"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return out
