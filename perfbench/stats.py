"""The benchmark's arithmetic: percentiles, the tail rule, and per-layer
self time from overlapping spans."""
import math

# candidate tail percentiles, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 85.0, 80.0, 75.0, 70.0, 65.0, 60.0, 55.0, 50.0)
TAIL_MIN_BEYOND = 10


def percentile(values, p):
    """Linear-interpolated percentile `p` (0-100) of `values`."""
    v = sorted(values)
    if not v:
        raise ValueError("percentile of no values")
    k = (len(v) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def median(values):
    return percentile(values, 50.0)


def tail_percentile(n):
    """The highest ladder percentile with at least TAIL_MIN_BEYOND of `n`
    samples beyond it, or None when even the median has too few."""
    for p in TAIL_LADDER:
        # n * (100 - p) / 100 >= TAIL_MIN_BEYOND, in integers (p has one decimal)
        if n * (1000 - round(p * 10)) >= TAIL_MIN_BEYOND * 1000:
            return p
    return None


def tail(values, n=None):
    """(percentile used, its value); the maximum when no ladder
    percentile qualifies. The percentile is chosen for `n` samples
    (all of them when `n` is None or larger) and applied to all."""
    if n is None or n > len(values):
        n = len(values)
    p = tail_percentile(n)
    if p is None:
        return 100.0, max(values)
    return p, percentile(values, p)


# The layer a span belongs to, and its depth: where spans overlap, the
# instant is charged to the deepest one, so self times partition the
# action's wall time.
LAYERS = (("exec.stage", "exec", 5), ("exec.job", "exec", 4), ("plans.", "plans", 3),
          ("api.", "api", 2), ("lake.", "lake", 2), ("action", "other", 1))


def layer_of(name):
    for prefix, layer, depth in LAYERS:
        if name.startswith(prefix):
            return layer, depth
    return None, 0


def self_times(action, spans):
    """Self time per layer inside one action, in the spans' unit.

    `action` is (start, end); `spans` is a list of (name, start, end).
    Spans are clipped to the action. Each elementary interval between
    span boundaries goes to the deepest span covering it; time no span
    covers is the action's own ("other"). The result sums to the
    action's wall time exactly."""
    a0, a1 = action
    clipped = []
    for name, s, e in spans:
        layer, depth = layer_of(name)
        s, e = max(s, a0), min(e, a1)
        if layer and e > s:
            clipped.append((s, e, layer, depth))
    cuts = sorted({a0, a1} | {s for s, _, _, _ in clipped} | {e for _, e, _, _ in clipped})
    out = {}
    for x0, x1 in zip(cuts, cuts[1:]):
        best, depth = "other", 0
        for s, e, layer, d in clipped:
            if s <= x0 and e >= x1 and d > depth:
                best, depth = layer, d
        out[best] = out.get(best, 0) + (x1 - x0)
    return out
