#!/usr/bin/env python3
"""Tripwire (VERDICT r14 #1): an EMPTY correctness artifact is a FAILURE.

Two rounds (r12, r14) ended with the driver's correctness artifact
silently written as `{}` while its bench leg ran fine — formally zeroing
the round's hard correctness signal. This guard makes that state loud and
machine-checkable for any per-query artifact `tools/check.py --artifact`
writes: the flat name -> row map (e.g. CORRECTNESS_SELF_LATEST.json,
which Verify writes) or the budgeted run's {"meta", "queries"} layout
(e.g. CORRECTNESS_SF1.json), whose `queries` map is scored:

    python3 tools/artifact_guard.py <artifact.json> [expected_min]

Exit 1: file missing, unparseable, or empty (`{}`) — the r12/r14 failure
        mode; there is NO correctness signal and the compare must be
        re-run (tools/check.py --artifact over a graft.Verify dump).
Exit 2: populated but has red rows (hash/schema/row mismatches, missing
        dumps) or fewer rows than expected_min (default 277, the registry
        size) — a real failure or a truncated run.
Exit 0: populated and fully green (rows-only entries count as green only
        when declared so via their err note, e.g. q_approx_distinct).
"""
import sys, json

if len(sys.argv) < 2:
    sys.exit("usage: artifact_guard.py <artifact.json> [expected_min]")
path = sys.argv[1]
expected_min = int(sys.argv[2]) if len(sys.argv) > 2 else 277

try:
    data = json.load(open(path))
except FileNotFoundError:
    print(f"FAIL: {path} missing — no driver correctness signal this round")
    sys.exit(1)
except Exception as e:
    print(f"FAIL: {path} unparseable ({e}) — treat as empty")
    sys.exit(1)

if isinstance(data, dict) and isinstance(data.get("queries"), dict):
    data = data["queries"]
if not isinstance(data, dict) or not data:
    print(f"FAIL: {path} is EMPTY ({{}}) — the r12/r14 silent-verify failure "
          f"mode. This is a FAILURE, not an absence of signal; re-run "
          f"tools/check.py --artifact and diagnose the verify leg.")
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
