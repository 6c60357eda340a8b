#!/bin/bash
# Freeze ladder: every gate on the FINAL committed code, run sequentially
# from one class state (no sbt invocations after the test step — the
# classpath the spawned executors read must not change mid-ladder).
#
#   scripts/ladder.sh <round> <prev-round> <xversion-commit>...
#   e.g. scripts/ladder.sh 16 15 9e165e4 101f559
#
# Logs land in /tmp/r<round>/; artifacts tagged r<round> are written
# into the repo root and compared against the committed r<prev-round>
# ones. Current code must recover the checkpoints of every
# <xversion-commit> (the xversion window). A failed selftest, test or
# deep-fuzz step ABORTs before any artifact is stamped: stamping them
# from a build that failed its own test gate would be a false green.
# GRAFT_LADDER_SMOKE=fail: selftest hook — replaces the sbt test step
# with `false` to prove the abort rail fires before any artifact stamp.
set -uo pipefail
[ $# -ge 3 ] || {
  echo "usage: $0 <round> <prev-round> <xversion-commit>..." >&2; exit 2; }
R=$1 P=$2
shift 2
cd "$(dirname "$0")/.."
L=/tmp/r$R
CLS=/tmp/graft_r${R}_final
mkdir -p "$L"
FAIL=0
step() {
  local name="$1"; shift
  echo "=== $name: $* ($(date +%H:%M:%S)) ==="
  if "$@" > "$L/$name.log" 2>&1; then
    echo "=== $name OK ($(date +%H:%M:%S)) ==="
  else
    echo "=== $name FAILED rc=$? — tail: ==="; tail -5 "$L/$name.log"
    FAIL=1
  fi
}

# rail self-test before anything is stamped (skipped in smoke mode —
# the smoke run IS the selftest's ladder probe; recursing would loop)
if [ "${GRAFT_LADDER_SMOKE:-}" != "fail" ]; then
  step selftest      scripts/selftest.sh
  [ "$FAIL" -eq 0 ] || { echo "=== ABORT: harness rails failed selftest ==="; exit 1; }
  step test          sbt -batch test
else
  step test          false
fi
[ "$FAIL" -eq 0 ] || { echo "=== ABORT: test step failed ==="; exit 1; }
# deep property-fuzz pass: ≥50 trials/property of the stateful replay
# machines — the default suite runs 8
step fuzz_deep       env GRAFT_FUZZ_N=50 sbt -batch "testOnly graft.streaming.StatefulReplayProperties"
[ "$FAIL" -eq 0 ] || { echo "=== ABORT: deep fuzz failed ==="; exit 1; }
# the committed check counts are generated from this run's summary
scripts/testcount.sh "$L/test.log" | tee "$L/testcount.txt" \
  || { echo "=== testcount FAILED ==="; FAIL=1; }
# class snapshots AFTER the sbt run, BEFORE everything else (main AND
# test scope — the scale-law main lives in test classes)
rm -rf "$CLS" "${CLS}_test"
cp -r target/scala-2.13/classes "$CLS"
cp -r target/scala-2.13/test-classes "${CLS}_test"

# preserve the previous round's committed artifacts for the
# round-over-round compares BEFORE any step overwrites them
for a in CLUSTERGATE.json CLUSTERGATE_production.json; do
  git show "HEAD:$a" > "$L/r${P}_$a" || FAIL=1
done

step gate001         env GRAFT_CLASSES="$CLS" scripts/gate.sh /root/testdata/sf0.01
step gate001_prod    env GRAFT_CLASSES="$CLS" SPARK_GRAFT_PROFILE=production scripts/gate.sh /root/testdata/sf0.01
step gate01          env GRAFT_CLASSES="$CLS" GRAFT_XMX=24g SPARK_GRAFT_CPUS=16 GATE_JSON="CORRECTNESS_sf01_r$R.json" scripts/gate.sh /root/testdata/sf0.1
step gate01_prod     env GRAFT_CLASSES="$CLS" GRAFT_XMX=24g SPARK_GRAFT_CPUS=16 SPARK_GRAFT_PROFILE=production GATE_JSON="CORRECTNESS_sf01_r${R}_production.json" scripts/gate.sh /root/testdata/sf0.1

# LOW-MEMORY sf0.1 gates: the full 363 at a deliberately small heap —
# at 100 TB per-executor memory is the scarce resource, and the 24g
# runs are structurally blind to spill bugs
step gate01_lowmem      env GRAFT_CLASSES="$CLS" GRAFT_XMX=3g GATE_JSON="CORRECTNESS_sf01_lowmem_r$R.json" scripts/gate.sh /root/testdata/sf0.1
step gate01_lowmem_prod env GRAFT_CLASSES="$CLS" GRAFT_XMX=3g SPARK_GRAFT_PROFILE=production GATE_JSON="CORRECTNESS_sf01_lowmem_r${R}_production.json" scripts/gate.sh /root/testdata/sf0.1

# mechanical green->red diff vs the previous round (exit-coded)
step corr_diff       python3 scripts/correctness_compare.py "CORRECTNESS_sf01_r$P.json" "CORRECTNESS_sf01_r$R.json"
step corr_diff_prod  python3 scripts/correctness_compare.py "CORRECTNESS_sf01_r${P}_production.json" "CORRECTNESS_sf01_r${R}_production.json"
cat "$L/corr_diff.log" "$L/corr_diff_prod.log" > "CORRECTNESS_COMPARE_r$R.txt"

# COVERAGE.md citations must resolve against the FRESH sf0.1 artifact
step coverage        python3 scripts/coverage_check.py COVERAGE.md "CORRECTNESS_sf01_r$R.json"

# the scale-law gate: growth exponents of the wall-time family
# re-measured at x1/x4/x16, exit 1 past budget
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         jdk.internal.ref sun.nio.ch sun.nio.cs sun.security.action \
         sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
step scalelaw        env GRAFT_SCALELAW_OUT="SCALELAW_r$R.json" \
  java $ADD_OPENS -Xmx8g -Dspark.ui.enabled=false \
  -cp "${CLS}_test:$CLS:${SPARK_HOME:-/opt/spark}/jars/*" \
  graft.ScaleLaw all

step soak            scripts/soak.sh
for c in "$@"; do
  step "xversion_$c" scripts/xversion.sh "$c"
done

step cg_all          scripts/clustergate.sh all
step cg_all_prod     env SPARK_GRAFT_PROFILE=production SPARK_GRAFT_CLUSTERGATE_OUT=CLUSTERGATE_production.json scripts/clustergate.sh all
step cg_chaos        scripts/clustergate.sh chaos
step cg_chaos_prod   env SPARK_GRAFT_PROFILE=production SPARK_GRAFT_CLUSTERGATE_OUT=CHAOS_production.json scripts/clustergate.sh chaos
step cg_wide         scripts/clustergate.sh wide
step cg_wide_prod    env SPARK_GRAFT_PROFILE=production SPARK_GRAFT_CLUSTERGATE_OUT=CLUSTERGATE_wide_production.json scripts/clustergate.sh wide

# exit-coded soak trend (threshold 50%: the fixtures are tiny, so
# sub-50% swings are scheduler noise; a real regression shows as 2x+)
step soak_cmp        python3 scripts/bench_compare.py --soak "$L/r${P}_CLUSTERGATE.json" CLUSTERGATE.json 50
step soak_cmp_prod   python3 scripts/bench_compare.py --soak "$L/r${P}_CLUSTERGATE_production.json" CLUSTERGATE_production.json 50
cat "$L/soak_cmp.log" "$L/soak_cmp_prod.log" > "SOAK_COMPARE_r$R.txt"

step bench_def       env SPARK_GRAFT_BENCH_OUT="BENCH_local_r$R.json" scripts/bench3.sh /root/testdata/sf0.1 "$CLS"
step bench_prod      env SPARK_GRAFT_PROFILE=production SPARK_GRAFT_BENCH_OUT="BENCH_local_r${R}_production.json" scripts/bench3.sh /root/testdata/sf0.1 "$CLS"
step bench_def2      env SPARK_GRAFT_BENCH_OUT="BENCH_local_r${R}_series2.json" scripts/bench3.sh /root/testdata/sf0.1 "$CLS"
step bench_prod2     env SPARK_GRAFT_PROFILE=production SPARK_GRAFT_BENCH_OUT="BENCH_local_r${R}_production_series2.json" scripts/bench3.sh /root/testdata/sf0.1 "$CLS"

# exit-coded bench regression gate: previous round's best-of-two vs
# this round's (canary-clean interleaved series from the same machine)
step bench_gate      python3 scripts/bench_compare.py --gate "BENCH_local_r$P.json,BENCH_local_r${P}_series2.json" "$L/bench_def.log,$L/bench_def2.log"
step bench_gate_prod python3 scripts/bench_compare.py --gate "BENCH_local_r${P}_production.json,BENCH_local_r${P}_production_series2.json" "$L/bench_prod.log,$L/bench_prod2.log"
cat "$L/bench_gate.log" "$L/bench_gate_prod.log" > "BENCH_COMPARE_r$R.txt"

echo "=== LADDER DONE fail=$FAIL ($(date +%H:%M:%S)) ==="
exit $FAIL
