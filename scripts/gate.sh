#!/bin/bash
# One-command correctness gate: run graft.Verify and the DuckDB compare
# exactly like the round driver. Usage: scripts/gate.sh [sfdir] [name-filter]
# Optional: SPARK_GRAFT_PROFILE=production for the 4096-partition/RocksDB
# partition-count-invariance run.
set -e
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.01}
OUT=$(mktemp -d /tmp/graft_gate.XXXXXX)
# log OUTSIDE $OUT: run_verify.sh rm -rf's $OUT first, which used to
# unlink the already-open verify.log (stderr vanished into a deleted
# inode — codegen ERRORs were invisible in every past gate log)
# A passing gate removes both; a failing one keeps them for inspection.
kept() { echo "gate: output kept in $OUT, log $OUT.log" >&2; }
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-8} scripts/run_verify.sh "$SF" "$OUT" ${2:+"$2"} \
  > "$OUT.log" 2>&1 || { tail -20 "$OUT.log"; kept; exit 1; }
# GATE_JSON: also write a committable CORRECTNESS-style artifact
python3 scripts/check.py "$SF" "$OUT" ${GATE_JSON:+"$GATE_JSON"} || { rc=$?; kept; exit $rc; }
rm -rf "$OUT" "$OUT.log"
