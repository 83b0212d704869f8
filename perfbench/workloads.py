"""Seeded operation lists for the two workloads.

Each workload function returns the plan the harness runs: a list of rows
`(phase, kind, *args)`, where phase is `warm` (untimed, part of set-up) or
`op` (the timed list), and a weight for each `op` row: how many operations
of the workload it stands for.  Only the seed and the generated tables decide
a plan.
"""
import json
import math
import os
import random
import re

HERE = os.path.dirname(os.path.abspath(__file__))

# One recorded pass over all registered queries (`registry_pass.py`): the
# time of each query, from which the panels below are drawn.
TIMES_FILE = os.path.join(HERE, "registry_times.json")

# Warm-up during set-up: cheap registry queries on the scan, join and
# aggregate, text, event and hashing paths.  The JVM compiles code shared by
# many queries while it runs them, so without a warm-up whichever panel query
# comes first on each path pays for it, and the seeded order would move the
# median.  They are never drawn into a panel.
WARM_QUERIES = ("q6_forecast_revenue", "q3_shipping_priority", "tx_length_histogram",
                "ev_error_rate", "dd_exact")

# Panel sizes.  A median needs 10 samples beyond it, so a pass has at least
# 20 operations; the lake's five writes leave 15 reads.
REGISTRY_PANEL = 20
LAKE_READS = 15
# The lake pass stands for its five writes plus a third of the registry.
LAKE_SHARE = 1 / 3

# The five fact tables the lake re-lays; dimensions are copied unchanged.
# Per table: the writer, and the clustering columns the seed picks from (a
# column for `writeLinear`, a column pair for `writeZOrdered`).
LAKE_TABLES = {
    "lineitem": ("linear", ("l_orderkey", "l_partkey", "l_suppkey")),
    "orders": ("linear", ("o_orderkey", "o_custkey")),
    "events": ("zorder", ("user_id,event_id", "event_id,user_id")),
    "documents": ("linear", ("doc_id", "n_chars")),
    "embeddings": ("linear", ("vec_id", "label")),
}
LAKE_FILES = range(24, 33)        # files per fact table, drawn by the seed


def family(name):
    """The operator family of a registry query: its name's first segment,
    with q1..q22 folded into q."""
    head = name.split("_")[0]
    return "q" if re.fullmatch(r"q\d*", head) else head


def load_times(path=TIMES_FILE):
    with open(path) as f:
        return json.load(f)["times_s"]


def allocate(sizes, n):
    """Split n panel places over families in proportion to their sizes
    (largest remainder), giving every family at least one."""
    total = sum(sizes.values())
    quota = {f: n * k / total for f, k in sizes.items()}
    alloc = {f: max(1, math.floor(q)) for f, q in quota.items()}
    while sum(alloc.values()) < n:
        f = max(alloc, key=lambda f: (quota[f] - alloc[f], f))
        alloc[f] += 1
    while sum(alloc.values()) > n:
        f = min((f for f in alloc if alloc[f] > 1), key=lambda f: (quota[f] - alloc[f], f))
        alloc[f] -= 1
    return alloc


def panel(times, n, exclude=WARM_QUERIES):
    """A family-stratified sample of n registry queries, with weights.

    Each family gets places in proportion to its number of queries
    (`allocate`).  Within a family the queries are ranked by their recorded
    time and split into as many equal-count strata as it has places; the
    query at the middle of each stratum is taken.  Each taken query stands
    for its family's queries over its places, so the weighted panel has the
    registry's family time shares and latency distribution, as far as a
    sample of n can.  Returns [(name, weight)] sorted by name.
    """
    fams = {}
    for q in times:
        fams.setdefault(family(q), []).append(q)
    out = []
    for f, k in sorted(allocate({f: len(qs) for f, qs in fams.items()}, n).items()):
        ranked = sorted((q for q in fams[f] if q not in exclude),
                        key=lambda q: (times[q], q))
        weight = len(fams[f]) / k
        out += [(ranked[int((j + 0.5) * len(ranked) / k)], weight) for j in range(k)]
    return sorted(out)


def warm_up():
    return [("warm", "query", q) for q in WARM_QUERIES]


def _queries(rng, sample, scale=1.0):
    order = list(sample)
    rng.shuffle(order)
    return [("op", "query", q) for q, _ in order], [w * scale for _, w in order]


def registry(seed, times=None):
    """REGISTRY_PANEL queries in seeded order; together they stand for one
    pass over the whole registry."""
    ops, weights = _queries(random.Random(seed), panel(times or load_times(), REGISTRY_PANEL))
    return warm_up() + ops, weights


def lake(seed, times=None):
    """Phase 1 re-lays every fact table with a seeded clustering and file
    count; phase 2 runs LAKE_READS panel queries, in seeded order, which
    stand for LAKE_SHARE of the registry."""
    rng = random.Random(seed)
    writes = [("op", "write", table, method, rng.choice(cols), str(rng.choice(LAKE_FILES)))
              for table, (method, cols) in LAKE_TABLES.items()]
    reads, weights = _queries(rng, panel(times or load_times(), LAKE_READS), LAKE_SHARE)
    return warm_up() + writes + reads, [1.0] * len(writes) + weights
