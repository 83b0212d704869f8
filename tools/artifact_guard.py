#!/usr/bin/env python3
"""Tripwire (VERDICT r14 #1): an EMPTY correctness artifact is a FAILURE.

Two of the last three rounds (r12, r14) ended with the driver's
CORRECTNESS_r{N}.json silently written as `{}` while its bench leg ran
fine — formally zeroing the round's hard correctness signal. This guard
makes that state loud and machine-checkable:

    python3 tools/artifact_guard.py CORRECTNESS_r15.json [expected_min]

Exit 1: file missing, unparseable, or empty (`{}`) — the r12/r14 failure
        mode; the round has NO driver correctness signal and must fall
        back to CORRECTNESS_LOCAL_r{N}.json + a full local re-run
        (tools/check.py --artifact over a graft.Verify dump).
Exit 2: populated but has red rows (hash/schema/row mismatches, missing
        dumps) or fewer rows than expected_min (default 277, the registry
        size) — a real failure or a truncated run.
Exit 0: populated and fully green (rows-only entries count as green only
        when declared so via their err note, e.g. q_approx_distinct).
"""
import sys, json

# VERDICT r16 #5 — standing oracle-budget mode:
#
#     python3 tools/artifact_guard.py --oracle-budget ORACLE_TIMES_r17.json [budget_sec]
#
# The r12/r14/r15 empty artifacts were a BUDGET overrun growing back
# silently as the registry grew (root-caused r16: DuckDB CTE inlining).
# This mode fails round prep if the serial sf0.01 oracle compare
# (tools/check.py --times output) exceeds the budget (default 120 s —
# r16 measured 33.6 s, so ~4x headroom), or if any oracle errored.
if len(sys.argv) > 1 and sys.argv[1] == "--oracle-budget":
    tpath = sys.argv[2]
    budget = float(sys.argv[3]) if len(sys.argv) > 3 else 120.0
    try:
        t = json.load(open(tpath))
    except Exception as e:
        print(f"FAIL: {tpath} missing/unparseable ({e}) — run "
              f"tools/check.py --times this round")
        sys.exit(1)
    errs = [n for n, s in t.get("times", {}).items() if s < 0]
    total = t.get("total_sec", 1e9)
    print(f"oracle compare: {total}s over {t.get('n')} oracles "
          f"(budget {budget}s), {len(errs)} errors")
    for n in errs[:10]:
        print(f"ERR oracle {n}")
    if errs:
        sys.exit(2)
    if total > budget:
        print(f"FAIL: serial oracle compare {total}s exceeds the {budget}s "
              f"budget — the r12/r14/r15 failure mode is growing back; "
              f"profile the top entries and materialize/rewrite them")
        sys.exit(2)
    sys.exit(0)

path = sys.argv[1] if len(sys.argv) > 1 else "CORRECTNESS_r15.json"
expected_min = int(sys.argv[2]) if len(sys.argv) > 2 else 277

try:
    data = json.load(open(path))
except FileNotFoundError:
    print(f"FAIL: {path} missing — no driver correctness signal this round")
    sys.exit(1)
except Exception as e:
    print(f"FAIL: {path} unparseable ({e}) — treat as empty")
    sys.exit(1)

if not isinstance(data, dict) or not data:
    print(f"FAIL: {path} is EMPTY ({{}}) — the r12/r14 silent-verify failure "
          f"mode. This is a FAILURE, not an absence of signal; use "
          f"CORRECTNESS_LOCAL instead and diagnose the driver's verify leg.")
    sys.exit(1)

red = []
for name, row in sorted(data.items()):
    if not isinstance(row, dict):
        red.append((name, "malformed row"))
        continue
    if row.get("hash_match") is True:
        continue
    err = (row.get("err") or "")
    # Declared rows-only design (no oracle). The driver writes
    # err="no_oracle" with spark_rows; tools/check.py writes
    # err="rows-only: ..." with rows_match. Green iff rows landed.
    if ("rows-only" in err or err == "no_oracle") and (
            row.get("rows_match") or (row.get("spark_rows") or 0) > 0):
        continue
    red.append((name, f"hash={row.get('hash_match')} schema="
                f"{row.get('schema_match')} rows={row.get('rows_match')} "
                f"err={err[:120] or None}"))

if len(data) < expected_min:
    print(f"WARN: only {len(data)} rows (< expected {expected_min}) — "
          f"truncated run?")
for name, why in red:
    print(f"RED {name}: {why}")
print(f"{len(data) - len(red)} green, {len(red)} red, {len(data)} total "
      f"in {path}")
sys.exit(2 if red or len(data) < expected_min else 0)
