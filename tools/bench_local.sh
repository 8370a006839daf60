#!/bin/bash
# Round-local bench artifacts (commit both every round; next round's
# driver artifact gates against BENCH_LOCAL via tools/bench_gate.py):
#   BENCH_LOCAL_r{N}.json — graft.Bench at sf0.1 (headline + extras)
#   IVF_BENCH_r{N}.json   — graft.tools.IvfBench build-once/probe-N
#                           timings, so the IVF amortization claim is a
#                           per-round measured artifact, not SCALING.md
#                           prose (VERDICT r9 item 6)
set -e
cd "$(dirname "$0")/.."
N=${1:?usage: bench_local.sh <round number, e.g. 10> [sfDir]}
SF=${2:-/root/testdata/sf0.1}
SPARK_GRAFT_SF_DIR="$SF" sbt -batch "runMain graft.Bench" \
  | grep '"metric"' > "BENCH_LOCAL_r${N}.json"
sbt -batch "runMain graft.tools.IvfBench" \
  | grep '"metric"' > "IVF_BENCH_r${N}.json"
echo "wrote BENCH_LOCAL_r${N}.json IVF_BENCH_r${N}.json"
