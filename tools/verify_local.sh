#!/bin/bash
# Local correctness loop: run graft.Verify at sf0.01 then diff vs DuckDB.
set -e
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/verify_out}
rm -rf "$OUT"
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-8} sbt -batch "runMain graft.Verify $SF $OUT" 2>&1 | grep -Ev '^\[info\] (welcome|loading|compiling|done|running)' | grep -E 'error|warn|\[verify\]' || true
python3 tools/compare.py "$SF" "$OUT"
