#!/bin/bash
# Graph-family 0.95 protocol sweep: the diversified-build knobs at nb=200k
# on the protocol corpus, one arm per JVM so a failed arm doesn't repay
# the others' builds.
#
# Usage: scripts/sweep_graph_200k.sh [name:rounds:alpha:degree:inter ...]
# With no arguments it runs the round-A arms.
#
# Findings so far (baseline r11: rounds=1 alpha=1.0 degree=16 inter=32 ->
# 0.80 @ ef=1411, qps 55.6; 0.95 UNREACHED, 0.883 @ ef=4096):
#   - Round A (r2_a10_d16, r1_a12_d16, r1_a10_d24): alpha=1.2 COLLAPSES the
#     ceiling (0.621 @ ef=4096 vs 0.883 at alpha=1.0) — under the
#     detour-prune composition a bigger alpha prunes FEWER in-clique edges,
#     so the navigability lever is alpha < 1 (the re-cap then admits
#     longer-range survivors), plus the degree-24 budget arm.
#   - Round B (r1_a085_d16:1:0.85:16:32, r1_a09_d24:1:0.9:24:48): alpha
#     moves the ceiling DOWN in both directions at this corpus; degree
#     16->24 moved it 0.883 -> 0.923 at ef=4096.
#   - Round C (r1_a10_d32:1:1.0:32:64): the degree-budget frontier — where
#     the 0.95 target lands.
set -u
cd "$(dirname "$0")/.."
CPUS="${SPARK_GRAFT_CPUS:-10}"
[ $# -gt 0 ] || set -- r2_a10_d16:2:1.0:16:32 r1_a12_d16:1:1.2:16:32 r1_a10_d24:1:1.0:24:48
for arm in "$@"; do
  IFS=: read -r name rounds alpha degree inter <<< "$arm"
  echo "=== arm $name: rounds=$rounds alpha=$alpha degree=$degree inter=$inter ==="
  SPARK_GRAFT_CPUS=$CPUS SPARK_DRIVER_MEM=24g \
  GRAFT_DESCENT_ROUNDS=$rounds GRAFT_ALPHA=$alpha \
  GRAFT_DEGREE=$degree GRAFT_INTER_DEGREE=$inter \
    scripts/run_main.sh graft.Protocol 200000 100 128 100 0.7 graph \
    2>&1 | grep -E "PROTOCOL|graph build|serve load|ground truth|protocol:"
done
echo "=== sweep done ==="
