#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

usage: python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the harness (and graft, from source) when needed, generates the
inputs, runs the workload in one JVM, checks every answer against DuckDB and
prints one JSON line last: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1.  Exits non-zero, printing no result, when
the build or the harness fails.  See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import pickle
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
TARGET = os.path.join(HARNESS, "target")
WORK = os.path.join(HERE, ".work")
RUN = os.path.join(WORK, "run")
DATA = os.path.join(WORK, "data", "sf0.1")
WORKLOADS = ("registry-sf0.1", "lake-multifile")
DATA_SEED = 42             # the tables are fixed; a workload seed varies the rest
RUN_LIMIT_S = 150          # the harness must end within this
REF_S = 0.05               # the reference task's time on an unloaded host
BUILD_LIMIT_S = 800
JVM_HEAP = "3g"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def digest(paths):
    h = hashlib.sha256()
    for top in paths:
        walk = os.walk(top) if os.path.isdir(top) else [("", [], [top])]
        for d, _, files in sorted(walk):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def fresh(stamp, key):
    if not os.path.exists(stamp):
        return False
    with open(stamp) as f:
        return f.read() == key


def build():
    """Compile graft and the harness with sbt, offline, unless the sources
    are unchanged since the last build."""
    stamp = os.path.join(TARGET, "build.stamp")
    srcs = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
            os.path.join(HARNESS, "src"), os.path.join(HARNESS, "build.sbt")]
    key = digest([p for p in srcs if os.path.exists(p)])
    if fresh(stamp, key):
        return
    # Offline, and with sbt's temporary files inside the checkout.
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=tmp,
               JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
            f"-Djava.io.tmpdir={tmp}", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building graft and the harness")
    t = time.time()
    with open(os.path.join(WORK, "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                            cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S).returncode
    if rc != 0:
        raise SystemExit(f"build failed (exit {rc}); see {WORK}/build.log")
    with open(stamp, "w") as f:
        f.write(key)
    log(f"built in {time.time() - t:.1f} s")


def ensure_data():
    """Generate the input tables once per checkout."""
    stamp = os.path.join(DATA, "stamp")
    key = digest([os.path.join(HERE, "datagen.py")]) + str(DATA_SEED)
    if not fresh(stamp, key):
        shutil.rmtree(DATA, ignore_errors=True)
        datagen.write_tables(datagen.generate(DATA_SEED), DATA)
        with open(stamp, "w") as f:
            f.write(key)


def plan_for(workload, seed):
    """(plan, weight of each timed operation)."""
    if workload == "registry-sf0.1":
        return workloads.registry(seed)
    return workloads.lake(seed)


def run_jvm(args, main="graftbench.Main", limit=RUN_LIMIT_S):
    """Run one of the harness's mains; returns its stdout."""
    with open(os.path.join(TARGET, "classpath.txt")) as f:
        cp = f.read().strip()
    with open(os.path.join(TARGET, "javaopts.txt")) as f:
        opts = [o for o in f.read().split("\n") if o and not o.startswith("-Xmx")]
    tmp = os.path.join(RUN, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + opts + [f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
                              "-cp", cp, main] + args)
    with open(os.path.join(RUN, "jvm.log"), "w") as errf:
        # A session of its own, so a timeout also stops the reference process.
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=errf, text=True,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            stdout, _ = p.communicate(timeout=limit)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit("harness exceeded the run's time limit")
    if p.returncode != 0:
        raise SystemExit(f"harness failed (exit {p.returncode}); see {RUN}/jvm.log")
    return stdout


def registry_names():
    os.makedirs(RUN, exist_ok=True)
    return run_jvm([], main="graftbench.Names").split()


def run_plan(plan, seconds, trace, limit=RUN_LIMIT_S):
    """Run `plan` in a fresh run directory; returns the harness's result."""
    shutil.rmtree(RUN, ignore_errors=True)
    lake = os.path.join(RUN, "lake")
    os.makedirs(lake)
    for t in datagen.TABLES:
        if t not in workloads.LAKE_TABLES:
            shutil.copy(os.path.join(DATA, f"{t}.parquet"), lake)
    plan_file = os.path.join(RUN, "plan.tsv")
    with open(plan_file, "w") as f:
        f.writelines("\t".join(row) + "\n" for row in plan)
    run_jvm([DATA, lake, plan_file, os.path.join(RUN, "out"), str(seconds), str(trace)],
            limit=limit)
    with open(os.path.join(RUN, "out", "result.json")) as f:
        return json.load(f)


def oracle_answer(con, sql):
    """DuckDB's answer to `sql` on the fixed tables, cached per checkout.
    Answers do not depend on layout, so the lake is checked against the
    answer on the single-file tables."""
    with open(os.path.join(DATA, "stamp")) as f:
        key = hashlib.sha256((sql + f.read()).encode())
    path = os.path.join(WORK, "oracle", key.hexdigest() + ".pickle")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    ans = oracle.table(*oracle.query(con, sql))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(ans, f)
    os.replace(path + ".tmp", path)
    return ans


def check(res):
    """Check every query's answer; returns ({op index: reason},
    {op index: rows returned})."""
    con = oracle.connect(DATA, os.path.join(RUN, "duckdb"))
    sqls = res["oracle_sql"]
    wrong, rows = {}, {}
    for i, op in enumerate(res["ops"]):
        if op["error"] or op["kind"] != "query":
            continue
        name = op["name"]
        got = oracle.answer(con, os.path.join(RUN, "out", "results", f"op{i}"))
        rows[i] = len(got[1]) if got else 0
        if got is None:
            reason = "no answer written"
        elif name in oracle.ROWS_ONLY:
            reason = "" if got[1] else "empty answer"
        elif name not in sqls:
            reason = "no oracle"
        else:
            reason = oracle.diff(oracle_answer(con, sqls[name]), got)
        if reason:
            wrong[i] = reason
    con.close()
    return wrong, rows


def host_scale(res):
    """REF_S over the run's median reference reading: how much faster an
    unloaded host would have run the pass.  The host is shared, and its
    speed drifts by tens of percent over minutes.  The reference runs in a
    process of its own, and only while no graft code runs (before set-up and
    after the session has stopped), so the ratio removes the host's drift
    and none of graft's own cost."""
    return REF_S / stats.median(res["ref_s"])


def per_pass(res, weights):
    """The ops of each pass, zipped with their weights."""
    ops, k = res["ops"], len(weights)
    return [list(zip(ops[i:i + k], weights)) for i in range(0, len(ops), k)]


def weighted_wall(res, weights):
    """Median over passes of the weighted pass time: the time of one pass
    over everything the panel stands for.  Reference readings inside a pass
    are not part of it."""
    return stats.median([sum(op["dur_s"] * w for op, w in p)
                         for p in per_pass(res, weights)])


def weighted_p50(res, weights):
    pairs = [pw for p in per_pass(res, weights) for pw in p]
    return stats.hd_percentile([op["dur_s"] for op, _ in pairs], 50,
                               [w for _, w in pairs])


def end_to_end(res, weights):
    scale = host_scale(res)
    return {
        "setup_s": (res["setup_s"] * scale, "s"),
        "wall_s": (weighted_wall(res, weights) * scale, "s"),
        "op_p50_s": (weighted_p50(res, weights) * scale, "s"),
    }


# Summed over the operations of a traced pass.
SUMMED = (
    "construct_s", "construct.jobs", "plan.optimization_s", "plan.planning_s",
    "scan.input_bytes", "scan.input_records", "scan.tasks", "scan.time_s",
    "exchanges.fanout", "exchanges.algorithmic", "shuffle.fanout_write_bytes",
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.records", "spill.bytes")
READS_ONLY = ("exchanges.fanout", "exchanges.algorithmic", "shuffle.fanout_write_bytes")
PROBES = ("codegen.compile_s", "ObjectStoreView.keys_s", "Tables.load_s",
          "floor.submit_s", "floor.scan1_s")
FAMILIES = ("ct", "dd", "ev", "ins", "mm", "ns", "pipe", "q", "sim", "tx")
RATIOS = {"parallel_eff", "scan.records_per_result_row", "sources.write_share",
          "sources.bytes_per_input_byte", "trace.coverage"}


def unit(name):
    if name in RATIOS:
        return "ratio"
    if name == "peak_rss_mb":
        return "MiB"
    if name.endswith("_s"):
        return "s"
    return "bytes" if "bytes" in name else "count"


def dir_bytes(d):
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(d)
               for f in fs if f.endswith(".parquet"))


def per_layer(res, weights, rows, lake):
    lay = res["layers"]
    per_op = lay["per_op"]
    ops = res["ops"]
    wall = sum(res["pass_s"])

    def total(k, kinds=None):
        return sum(p.get(k, 0.0) for op, p in zip(ops, per_op)
                   if kinds is None or op["kind"] in kinds)

    with open(os.path.join(RUN, "out", "spans.jsonl")) as f:
        spans = [json.loads(line) for line in f]
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))
    # Median share of an operation's wall time that its layer spans cover.
    coverage = stats.median([stats.covered(children.get(s["id"], [])) /
                             max(1, s["end_us"] - s["start_us"])
                             for s in spans if s["parent"] == 0])
    self_s = stats.self_times(spans)
    log("self time by span: " + ", ".join(
        f"{k} {v / 1e6:.2f} s" for k, v in sorted(self_s.items(), key=lambda kv: -kv[1])
        if v >= 5000))
    files = written = 0
    for t in workloads.LAKE_TABLES:
        d = os.path.join(lake, f"{t}.parquet")
        if os.path.isdir(d):
            files += sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
            written += dir_bytes(d)
    # A writer's range partition also has the REPARTITION_BY_NUM origin, so
    # the exchange counters describe the reads only.
    m = {k: total(k, ("query",) if k in READS_ONLY else None) for k in SUMMED}
    m.update({k: lay[k] for k in PROBES})
    m["peak_rss_mb"] = res["peak_rss_mb"]
    # Weighted time per family: its share of the pass the panel stands for.
    fam = dict.fromkeys(FAMILIES, 0.0)
    for p in per_pass(res, weights):
        for op, w in p:
            if op["kind"] == "query":
                fam[workloads.family(op["name"])] += op["dur_s"] * w / len(res["pass_s"])
    m.update({f"family.{f}_s": v for f, v in fam.items()})
    m.update({
        "fanout_ops": sum(1 for op, p in zip(ops, per_op)
                          if op["kind"] == "query" and p.get("exchanges.fanout", 0) > 0),
        "parallel_eff": m["executor_run_s"] / (wall * res["cores"]),
        "scan.records_per_result_row":
            total("scan.input_records", ("query",)) / max(1, sum(rows.values())),
        "result.rows": sum(rows.values()),
        "result.bytes": dir_bytes(os.path.join(RUN, "out", "results")),
        "sources.write_share": total("sources.write_s") / wall,
        "sources.records_written": total("sources.records_written", ("write",)),
        "sources.files_written": files,
        "sources.bytes_written": written,
        "sources.bytes_per_input_byte":
            written / datagen.input_bytes(DATA, workloads.LAKE_TABLES),
        # Driver time inside execute that no Spark job or planning phase covers.
        "execute.driver_s": self_s.get("execute", 0.0) / 1e6,
        "trace.coverage": coverage,
        "trace.wall_s": weighted_wall(res, weights),
        "raw.op_p50_s": weighted_p50(res, weights),
        "host.ref_s": stats.median(res["ref_s"]),
    })
    return {k: (v, unit(k)) for k, v in m.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    os.makedirs(WORK, exist_ok=True)
    build()
    ensure_data()
    t = time.perf_counter()
    plan, weights = plan_for(a.workload, a.seed)
    res = run_plan(plan, a.seconds, a.trace)
    log(f"harness ran in {time.perf_counter() - t:.1f} s")

    t = time.perf_counter()
    wrong, rows = check(res)
    log(f"answers checked in {time.perf_counter() - t:.1f} s")
    ops = res["ops"]
    failed = sum(1 for i, op in enumerate(ops) if op["error"] or i in wrong)
    for op in ops:
        if op["error"]:
            log(f"FAILED {op['name']} {op['param']!r}: {op['error']}")
    for i, reason in sorted(wrong.items()):
        log(f"WRONG {ops[i]['name']} {ops[i]['param']!r}: {reason}")
    e2e = end_to_end(res, weights)
    for k, (v, u) in e2e.items():
        log(f"{k} = {v:.4f} {u}")
    log(f"peak_rss_mb = {res['peak_rss_mb']:.1f} MiB")
    log("reference readings (s): " + " ".join(f"{x:.4f}" for x in res["ref_s"]))
    log(f"unscaled: set-up {res['setup_s']:.4f} s, weighted pass "
        f"{weighted_wall(res, weights):.4f} s, pass {stats.median(res['pass_s']):.4f} s, "
        f"host scale {host_scale(res):.4f}")
    log(f"error_rate = {failed / len(ops):.4f} ({failed} of {len(ops)} operations)")
    metrics = per_layer(res, weights, rows, os.path.join(RUN, "lake")) if a.trace else e2e
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
