#!/usr/bin/env python3
"""Record one timed pass over every registered query.

usage: python3 perfbench/registry_pass.py [--seed N] [--out FILE]

Runs the harness on the generated single-file tables exactly as a
`registry-sf0.1` run does (same set-up, same warm-up, each answer written as
parquet), but over all of `SparkEntry.queries` in seeded order, checks every
answer against DuckDB and writes each query's time to `registry_times.json`.
`workloads.panel` draws the benchmark's panels and their weights from that
record.  A pass takes several minutes.
"""
import argparse
import json
import os
import random
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", default=workloads.TIMES_FILE)
    a = ap.parse_args()
    os.makedirs(run.WORK, exist_ok=True)
    run.build()
    run.ensure_data()
    names = run.registry_names()
    order = sorted(names)
    random.Random(a.seed).shuffle(order)
    plan = workloads.warm_up() + [("op", "query", q) for q in order]
    t = time.perf_counter()
    res = run.run_plan(plan, 0, 0, limit=3600)
    run.log(f"pass ran in {time.perf_counter() - t:.1f} s")
    wrong, _ = run.check(res)
    ops = res["ops"]
    bad = sorted(op["name"] for i, op in enumerate(ops) if op["error"] or i in wrong)
    for i, reason in sorted(wrong.items()):
        run.log(f"WRONG {ops[i]['name']}: {reason}")
    durs = [op["dur_s"] for op in ops]
    record = {
        "what": "one pass over every registered query, each answer written as "
                "parquet, on the generated sf0.1 tables; made by "
                "perfbench/registry_pass.py",
        "seed": a.seed,
        "cores": res["cores"],
        "queries": len(ops),
        "wrong_or_failed": bad,
        "pass_s": round(res["pass_s"][0], 4),
        "p50_s": round(stats.percentile(durs, 50), 4),
        "p95_s": round(stats.percentile(durs, 95), 4),
        "times_s": {op["name"]: round(op["dur_s"], 4) for op in ops},
    }
    with open(a.out, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
        f.write("\n")
    run.log(f"{len(ops)} queries, {len(bad)} wrong or failed, pass "
            f"{record['pass_s']} s; written to {a.out}")


if __name__ == "__main__":
    main()
