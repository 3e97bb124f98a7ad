"""The benchmark's arithmetic, kept free of I/O so it can be tested on
hand-built fixtures (test_stats.py)."""
import bisect
import math
import statistics


def percentile(values, p):
    """The p-th percentile (0..100) with linear interpolation between
    closest ranks (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def samples_beyond(n, p):
    """How many of n samples lie above the p-th percentile rank."""
    return n - math.ceil(n * p / 100.0)


def reportable_percentile(n, candidates=(99, 95, 90, 75, 50), beyond=10):
    """The highest candidate percentile with at least `beyond` samples
    beyond it, or None when even the lowest has fewer."""
    for p in sorted(candidates, reverse=True):
        if samples_beyond(n, p) >= beyond:
            return p
    return None


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
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
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def driver_gap(wall, intervals):
    """Wall time of a job minus the union of the Spark job intervals that
    ran inside it: the time the driver spent outside any Spark job."""
    lo, hi = wall
    return (hi - lo) - union_length(clip(intervals, lo, hi))


def self_times(spans, jobs=()):
    """Self time of every span: its duration minus the union of its child
    spans and of the Spark jobs linked to it, clipped to the span.

    spans: dicts with id, parent, start, end; jobs: dicts with span, start,
    end. Returns {span id: self seconds}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    for j in jobs:
        children.setdefault(j["span"], []).append((j["start"], j["end"]))
    return {s["id"]: (s["end"] - s["start"]) -
            union_length(clip(children.get(s["id"], []), s["start"], s["end"]))
            for s in spans}


# How the engine's interval times scale with the sampler kernel's speed.
# Over ten eo_graphs runs on the 4-core box, the log of each wall-clock
# figure (warm time, p50 and p75 job time, cold pass) fell with the log of
# the run's median kernel speed with slope -1.7 to -2.3 (r = 0.93-0.96):
# a slow spell slows the engine about twice as much as the kernel.
SPEED_EXPONENT = 2


def sample_speed(sample, reference):
    """The host's speed at one sampler sample (t, kernel CPU seconds,
    stolen share), relative to the reference: below 1 when the kernel ran
    slower than at the reference or the hypervisor took cores away."""
    _, cpu_s, stolen = sample
    return (reference / cpu_s) ** SPEED_EXPONENT * (1.0 - stolen)


def speed_adjusted(a, b, samples, reference, pad=2.0):
    """Length of the interval [a, b] in reference-speed seconds: its wall
    length times the host's median speed over it (`sample_speed`).

    samples: time-sorted sampler samples. Samples within `pad` seconds of
    the interval count too, so a short interval still has several; with
    none there, the nearest sample stands in. The median keeps a stray
    slow sample from moving a short interval."""
    ts = [x[0] for x in samples]
    lo = bisect.bisect_left(ts, a - pad)
    hi = bisect.bisect_right(ts, b + pad)
    near = samples[lo:hi]
    if not near and samples:
        mid = (a + b) / 2
        i = bisect.bisect_left(ts, mid)
        near = [min(samples[max(i - 1, 0):i + 1], key=lambda x: abs(x[0] - mid))]
    if not near:
        raise ValueError("no speed samples")
    return (b - a) * statistics.median(sample_speed(x, reference) for x in near)


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(values, n=4) gives them."""
    q = statistics.quantiles(values, n=4)
    return q[0], q[1], q[2]


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else float("inf")


def worse_by(parent, change, better):
    """How much worse `change` is than `parent`, as a share of `parent`
    (negative when it is better)."""
    d = (change - parent) / parent
    return d if better == "lower" else -d


def pair_wins(pairs, better):
    """Share of (parent, change) pairs in which the change is better."""
    wins = sum(1 for p, c in pairs if (c < p if better == "lower" else c > p))
    return wins / len(pairs)


def wins_most(pairs, better, need=0.9):
    """True when the change wins at least `need` (9/10) of the pairs."""
    return bool(pairs) and pair_wins(pairs, better) >= need


def compare_metric(parent, change, pairs, better, bound):
    """One compare row: each side's quartiles, whether the change's median
    is worse than the parent's by more than `bound`, whether it wins at
    least 9/10 of the pairs, and 'unresolved' when either side's spread is
    wider than the bound."""
    pq_, cq = quartiles(parent), quartiles(change)
    worse = worse_by(pq_[1], cq[1], better)
    unresolved = spread(parent) > bound or spread(change) > bound
    return {
        "parent": pq_, "change": cq, "worse_by": worse,
        "regressed": (not unresolved) and worse > bound,
        "wins_9_of_10": wins_most(pairs, better),
        "verdict": ("unresolved" if unresolved else
                    "regressed" if worse > bound else
                    "improved" if wins_most(pairs, better) else "same"),
    }
