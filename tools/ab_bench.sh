#!/bin/bash
# Interleaved A/B bench harness for driver-to-driver creep clusters
# (VERDICT r14 #2, reused r17+). Runs a query cluster on two checkouts
# back-to-back, interleaved A-B-B-A to cancel host drift, min-of-5 passes
# inside each run.
#
# Usage: ab_bench.sh <out.log> <a_checkout> <b_checkout> [cluster]
#   a_checkout, b_checkout: the two commits' checkouts (e.g. a `git clone`
#                           of the baseline and the working tree)
#   cluster:                comma-joined query names (default: the r14 ns_* cluster)
# SPARK_GRAFT_CPUS, when set, overrides SparkEntry's core default;
# SPARK_GRAFT_SF_DIR, when set, overrides the default sf0.1 testdata; give
# it as an absolute path (each run starts in its own checkout), e.g. the
# 10x replica "$PWD/target/graft_scaled_x10" for a 10x run.
# Each run's per-query detail goes to ab_<run>.json in a fresh temporary
# directory, named in the log.
set -euo pipefail
if [ $# -lt 3 ]; then
  echo "usage: $0 <out.log> <a_checkout> <b_checkout> [cluster]" >&2
  exit 2
fi
OUT=$1
A_DIR=$2
B_DIR=$3
CLUSTER=${4:-ns_scan_plan,ns_list_v2_page,ns_key_versions,ns_common_prefixes,q_approx_distinct,dd_cluster_sizes,ns_acl_effective,ns_fso_du}
if [ -z "${SPARK_GRAFT_SF_DIR:-}" ]; then
export SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1
fi
export SPARK_GRAFT_BENCH_PASSES=5
export SPARK_GRAFT_BENCH_ONLY=$CLUSTER
: > "$OUT"
DETAIL_DIR=$(mktemp -d)
run() { # $1 = dir, $2 = tag
  ( cd "$1" && SPARK_GRAFT_BENCH_DETAIL="$DETAIL_DIR/ab_${2}.json" \
      sbt -batch "runMain graft.Bench" 2>&1 | grep '"metric"' ) \
    | sed "s/^/[$2] /" >> "$OUT"
}
echo "[ab] A=$A_DIR B=$B_DIR order A B B A, detail in $DETAIL_DIR" >> "$OUT"
run "$A_DIR" A_run1
run "$B_DIR" B_run1
run "$B_DIR" B_run2
run "$A_DIR" A_run2
echo "[ab] done" >> "$OUT"
