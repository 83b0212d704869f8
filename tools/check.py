#!/usr/bin/env python3
"""The one DuckDB compare behind graft's correctness contract.

    check.py <sf_dir> <dump_dir> [--artifact A.json] [--times T.json]
             [--budget SEC]

Re-derives every query of a graft.Verify dump (`<dump_dir>/<query>/` parquet
plus `oracle_sql.json`) in DuckDB over the sf tables and scores it against
Spark's output. The scored set is the union of the oracle keys and the dump
directories: a missing dump is red, and a query with no oracle
(q_approx_distinct) is rows-only, green iff it has rows. Any other query is
green iff its row count, column names and values all match.

One value rule at every size: floats are equal only when numerically equal
(NaN matches NaN, -0.0 matches 0.0), every other value compares as its
Series string form, and NULL matches only NULL. Both frames go to one
canonical form (columns sorted by name, rows sorted); past BIG_ROWS rows
the row sort gives way to an order-insensitive hash of the same canonical
cells, which keeps the 10x replica's compare inside its budget.

Prints one line per query and a summary; exits 1 on any red row.
  --artifact  per-query rows: rows_match, schema_match, hash_match,
              spark_rows, oracle_rows, err (the CORRECTNESS_*.json schema)
  --times     each oracle's serial DuckDB wall time: total_sec, n, times
              (the ORACLE_TIMES.json schema)
  --budget    run the queries in parallel worker processes, killing any
              worker that stays SEC seconds in one phase (view_setup,
              oracle, read_dump, compare); the query is then red with
              err="<phase>_timeout>SECs". The artifact gains a meta block.
"""
import argparse, glob, json, os, shutil, sys, tempfile, time
import multiprocessing as mp
from multiprocessing.connection import wait
import duckdb, numpy as np, pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
BIG_ROWS = 200_000
THREADS = 4  # DuckDB threads per worker of a budgeted run
WORKERS = max(1, (os.cpu_count() or 1) // THREADS)
ROWS_ONLY = "rows-only: no oracle registered"


def connect(sf_dir, threads=None):
    """One view per table. The shipped sf tables are single files;
    Spark-written replicas (the 10x scale probe) are directories of part
    files."""
    con = duckdb.connect()
    if threads:
        con.execute(f"SET threads TO {threads}")
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def cell_text(col):
    """The value rule as text. A float becomes its exact shortest repr, with
    -0.0 folded into 0.0, so equal text is numeric equality; list cells
    become tuples; the rest takes the Series string form (which renders a
    midnight datetime64 and a date alike). NULL and NaN become None."""
    if pd.api.types.is_float_dtype(col):
        text = col.astype(np.float64).add(0.0).astype(str)
    else:
        if col.dtype == object:
            col = col.map(lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
        text = col.astype(str)
    return text.where(col.notna(), None)


def canon(df):
    """Columns sorted by name, cells as cell_text, rows sorted (up to
    BIG_ROWS; beyond, multiset_hash ignores row order)."""
    cols = sorted(df.columns)
    df = df.reset_index(drop=True)
    text = pd.DataFrame({c: cell_text(df[c]) for c in cols}, columns=cols)
    if len(text) > BIG_ROWS:
        return text
    return text.sort_values(by=cols).reset_index(drop=True)


def multiset_hash(text):
    """Sum and XOR of per-row hashes under two keys: a sort-free digest of
    the canonical rows. The null mask is hashed beside the filled cells, so
    NULL never collides with a string."""
    frame = pd.concat([text.fillna(""), text.isna()], axis=1, ignore_index=True)
    h1 = pd.util.hash_pandas_object(frame, index=False).values
    h2 = pd.util.hash_pandas_object(
        frame, index=False, hash_key="1b873593cc9e2d51").values
    return int(h1.sum()), int(np.bitwise_xor.reduce(h2))


def compare(spark_df, duck_df, entry):
    """Fills the match fields; returns None when green, else why not."""
    s, d = canon(spark_df), canon(duck_df)
    entry["rows_match"] = len(s) == len(d)
    entry["schema_match"] = list(s.columns) == list(d.columns)
    entry["hash_match"] = False
    if not entry["schema_match"]:
        return f"schema mismatch: spark={list(s.columns)} duck={list(d.columns)}"
    if not entry["rows_match"]:
        return f"row count mismatch: spark={len(s)} duck={len(d)}"
    if len(s) > BIG_ROWS:
        if multiset_hash(s) != multiset_hash(d):
            return f"value mismatch: row multisets differ ({len(s)} rows)"
    else:
        for c in s.columns:
            eq = (s[c] == d[c]) | (s[c].isna() & d[c].isna())
            if not eq.all():
                i = int(np.argmin(eq.values))
                return (f"value mismatch {c} row{i}: "
                        f"spark={s[c][i]!r} duck={d[c][i]!r}")
    entry["hash_match"] = True
    return None


def row(err=None):
    """A red artifact row; score fills in what it learns."""
    return {"rows_match": False, "schema_match": None, "hash_match": None,
            "spark_rows": None, "oracle_rows": None, "err": err}


def score(name, sql, sf_dir, dump_dir, con=None, mark=lambda phase: None):
    """One query's artifact row and its oracle's wall seconds (-1 when the
    oracle errors, None when there is none). `mark` names each phase."""
    entry = row()
    secs = None
    try:
        if sql is not None:
            if con is None:
                mark("view_setup")
                con = connect(sf_dir, THREADS)
            mark("oracle")
            secs, t0 = -1.0, time.time()
            duck_df = con.execute(sql).df()
            secs = time.time() - t0
            entry["oracle_rows"] = len(duck_df)
        mark("read_dump")
        files = glob.glob(f"{dump_dir}/{name}/*.parquet")
        if not files:
            entry["err"] = "missing spark output"
            return entry, secs
        spark_df = pd.concat([pd.read_parquet(f) for f in files])
        entry["spark_rows"] = len(spark_df)
        if sql is None:
            entry["rows_match"] = len(spark_df) > 0
            entry["err"] = ROWS_ONLY
            return entry, secs
        mark("compare")
        entry["err"] = compare(spark_df, duck_df, entry)
    except Exception as e:
        entry["err"] = f"{type(e).__name__}: {str(e)[:200]}"
    return entry, secs


def green(entry):
    return entry["hash_match"] is True or (
        entry["err"] == ROWS_ONLY and entry["rows_match"] is True)


def report(name, entry):
    if green(entry):
        kind = ", rows-only" if entry["err"] == ROWS_ONLY else ""
        print(f"OK {name} ({entry['spark_rows']} rows{kind})", flush=True)
    else:
        print(f"RED {name}: {entry['err']}", flush=True)


def run_serial(names, oracle, sf_dir, dump_dir):
    con = connect(sf_dir)
    result, times = {}, {}
    for name in names:
        result[name], secs = score(name, oracle.get(name), sf_dir, dump_dir, con)
        if secs is not None:
            times[name] = round(secs, 3)
        report(name, result[name])
    return result, times


def run_budgeted(names, oracle, sf_dir, dump_dir, budget):
    """WORKERS processes, one per query. A worker writes its phase to a
    marker file and the kill clock restarts on every phase change, so a
    timeout names the phase that overran: only `oracle_timeout` is a claim
    about DuckDB."""
    tmp = tempfile.mkdtemp(prefix="graft_check_")

    def work(name):
        def mark(phase):
            with open(f"{tmp}/{name}.phase", "w") as f:
                f.write(phase)
        entry, _ = score(name, oracle.get(name), sf_dir, dump_dir, mark=mark)
        with open(f"{tmp}/{name}.json", "w") as f:
            json.dump(entry, f)

    def phase(name):
        try:
            with open(f"{tmp}/{name}.phase") as f:
                return f.read()
        except OSError:
            return "spawn"

    fork = mp.get_context("fork")
    pending, running, result = list(names), {}, {}
    while pending or running:
        while pending and len(running) < WORKERS:
            name = pending.pop(0)
            proc = fork.Process(target=work, args=(name,))
            proc.start()
            running[name] = (proc, "spawn", time.time())
        wait([p.sentinel for p, _, _ in running.values()], 0.5)
        for name, (proc, ph, t0) in list(running.items()):
            now = phase(name)
            if now != ph:
                running[name] = (proc, now, time.time())
                continue
            if proc.is_alive() and time.time() - t0 <= budget:
                continue
            killed = proc.is_alive()
            if killed:
                proc.terminate()
            proc.join()
            out = f"{tmp}/{name}.json"
            if os.path.exists(out):
                with open(out) as f:
                    entry = json.load(f)
            else:
                entry = row(f"{ph}_timeout>{budget}s" if killed
                            else f"worker died (exitcode {proc.exitcode})")
            result[name] = entry
            report(name, entry)
            del running[name]
    shutil.rmtree(tmp, ignore_errors=True)
    return {n: result[n] for n in names}


def main(argv=None):
    ap = argparse.ArgumentParser(
        description="Score a graft.Verify dump against its DuckDB oracles.")
    ap.add_argument("sf_dir")
    ap.add_argument("dump_dir")
    ap.add_argument("--artifact", help="write the per-query CORRECTNESS rows")
    ap.add_argument("--times", help="write the serial per-oracle times")
    ap.add_argument("--budget", type=int,
                    help="parallel run with a per-phase kill budget (s)")
    a = ap.parse_args(argv)
    if a.budget and a.times:
        ap.error("--times records serial oracle times; drop --budget")

    with open(f"{a.dump_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    dumps = [d for d in os.listdir(a.dump_dir)
             if os.path.isdir(f"{a.dump_dir}/{d}")]
    names = sorted(set(oracle) | set(dumps))
    if a.budget:
        result = run_budgeted(names, oracle, a.sf_dir, a.dump_dir, a.budget)
    else:
        result, times = run_serial(names, oracle, a.sf_dir, a.dump_dir)

    ok = sum(green(e) for e in result.values())
    rows_only = sum(green(e) and e["err"] == ROWS_ONLY for e in result.values())
    timeouts = sum("_timeout>" in (e["err"] or "") for e in result.values())
    if a.times:
        ranked = dict(sorted(times.items(), key=lambda kv: -kv[1]))
        total = round(sum(max(s, 0.0) for s in ranked.values()), 1)
        with open(a.times, "w") as f:
            json.dump({"total_sec": total, "n": len(ranked), "times": ranked},
                      f, indent=1)
        print(f"wrote {a.times}: {len(ranked)} oracles in {total}s")
    if a.artifact:
        out = result
        if a.budget:
            meta = {"sf_dir": a.sf_dir, "n_queries": len(result),
                    "hash_ok": ok - rows_only, "rows_only_ok": rows_only,
                    "oracle_timeout": timeouts,
                    "fail": len(result) - ok - timeouts,
                    "oracle_budget_s": a.budget}
            out = {"meta": meta, "queries": result}
        with open(a.artifact, "w") as f:
            json.dump(out, f, indent=1)
        print(f"wrote {a.artifact}")
    red = len(result) - ok
    print(f"{ok} ok ({rows_only} rows-only), {red} red of {len(result)}"
          + (f" ({timeouts} timed out)" if timeouts else ""))
    return 1 if red else 0


if __name__ == "__main__":
    sys.exit(main())
