#!/bin/bash
# Interleaved A/B bench harness for driver-to-driver creep clusters
# (VERDICT r14 #2, reused r17+). Runs a query cluster on a baseline
# checkout (a clone of the comparison commit) and the current HEAD
# back-to-back, interleaved A-B-B-A to cancel host drift, min-of-5 passes
# inside each run.
#
# Usage: ab_bench.sh <out.log> [baseline_dir] [baseline_tag] [cluster]
#   baseline_dir: checkout of the comparison round (default /tmp/graft_r13)
#   cluster:      comma-joined query names (default: the r14 ns_* cluster)
# SPARK_GRAFT_CPUS, when set, overrides the default local[32];
# SPARK_GRAFT_SF_DIR, when set, overrides the default sf0.1 testdata; give
# it as an absolute path (each run starts in its own checkout), e.g. the
# 10x replica "$PWD/target/graft_scaled_x10" for a 10x run.
set -u
OUT=${1:-/tmp/ab_bench.log}
BASE_DIR=${2:-/tmp/graft_r13}
BASE_TAG=${3:-r13}
CLUSTER=${4:-ns_scan_plan,ns_list_v2_page,ns_key_versions,ns_common_prefixes,q_approx_distinct,dd_cluster_sizes,ns_acl_effective,ns_fso_du}
if [ -z "${SPARK_GRAFT_SF_DIR:-}" ]; then
export SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1
fi
export SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32}
export SPARK_GRAFT_BENCH_PASSES=5
export SPARK_GRAFT_BENCH_ONLY=$CLUSTER
run() { # $1 = dir, $2 = tag
  local detail="$(dirname "$OUT")/ab_${2}.json"
  ( cd "$1" && SPARK_GRAFT_BENCH_DETAIL="$detail" \
      sbt -batch "runMain graft.Bench" 2>&1 | grep '"metric"' ) \
    | sed "s/^/[$2] /" >> "$OUT"
}
: > "$OUT"
echo "[ab] order A($BASE_TAG) B(head) B(head) A($BASE_TAG)" >> "$OUT"
run "$BASE_DIR" ${BASE_TAG}_run1
run /root/repo   head_run1
run /root/repo   head_run2
run "$BASE_DIR" ${BASE_TAG}_run2
echo "[ab] done" >> "$OUT"
