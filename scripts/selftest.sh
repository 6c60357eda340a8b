#!/bin/bash
# Red-green self-test of the fail-closed harness rails (VERDICT r13
# task 7): every safety exit that has never fired in anger is fired here
# on purpose, against synthetic fixtures — the gate scripts must FAIL
# when fed a failure, and pass when fed a pass. Exit 0 iff every rail
# behaves. Run by the round ladder before any artifact is stamped.
set -u
cd "$(dirname "$0")/.."
T=$(mktemp -d /tmp/graft_selftest.XXXXXX)
trap 'rm -rf "$T"' EXIT
FAIL=0
expect() { # expect <rc> <name> <cmd...>
  local want="$1" name="$2"; shift 2
  "$@" > "$T/$name.log" 2>&1
  local got=$?
  if [ "$got" -eq "$want" ]; then
    echo "[ok]   $name (exit $got)"
  else
    echo "[FAIL] $name: want exit $want, got $got"; tail -3 "$T/$name.log"
    FAIL=1
  fi
}

# --- check.py: VALUE_MISMATCH must exit 1 (the r13 fix, never yet fired)
mkdir -p "$T/vm/qx_selftest"
python3 - "$T/vm" <<'EOF'
import duckdb, json, sys
out = sys.argv[1]
duckdb.connect().execute(
    f"COPY (SELECT 2 AS a) TO '{out}/qx_selftest/part.parquet'")
json.dump({"qx_selftest": "SELECT 1 AS a"}, open(f"{out}/oracle_sql.json", "w"))
EOF
expect 1 check_value_mismatch python3 scripts/check.py /root/testdata/sf0.001 "$T/vm"
grep -q VALUE_MISMATCH "$T/check_value_mismatch.log" || {
  echo "[FAIL] check_value_mismatch: no VALUE_MISMATCH row in output"; FAIL=1; }

# --- check.py: matching fixture must exit 0 and emit a driver-schema artifact
mkdir -p "$T/ok/qy_selftest"
python3 - "$T/ok" <<'EOF'
import duckdb, json, sys
out = sys.argv[1]
duckdb.connect().execute(
    f"COPY (SELECT 1 AS a) TO '{out}/qy_selftest/part.parquet'")
json.dump({"qy_selftest": "SELECT 1 AS a"}, open(f"{out}/oracle_sql.json", "w"))
EOF
expect 0 check_green python3 scripts/check.py /root/testdata/sf0.001 "$T/ok" "$T/green.json"
python3 - "$T/green.json" <<'EOF'
import json, sys
a = json.load(open(sys.argv[1]))
q = a["qy_selftest"]
assert q["hash_match"] is True and q["rows_match"] is True \
    and q["schema_match"] is True and q["err"] is None \
    and q["detail"].startswith("OK"), q
assert a["_meta"]["exact"] == 1, a["_meta"]
EOF
[ $? -eq 0 ] || { echo "[FAIL] green artifact not in driver schema"; FAIL=1; }

# --- check.py: an EMPTY out dir is a zero-data green-light -> exit 2 (ADVICE r13)
mkdir -p "$T/empty"
echo '{}' > "$T/empty/oracle_sql.json"
expect 2 check_empty python3 scripts/check.py /root/testdata/sf0.001 "$T/empty"

# --- check.py: a query in the manifest with no output dir must FAIL
mkdir -p "$T/man/qy_selftest"
cp "$T/ok/qy_selftest/part.parquet" "$T/man/qy_selftest/"
cp "$T/ok/oracle_sql.json" "$T/man/"
printf 'qy_selftest qz_threw' > "$T/man/manifest.txt"
expect 1 check_missing_output python3 scripts/check.py /root/testdata/sf0.001 "$T/man"

# --- correctness_compare: green->red must exit 1; identical must exit 0
python3 - "$T" <<'EOF'
import json, sys
t = sys.argv[1]
g = {"q1": {"rows_match": True, "schema_match": True, "hash_match": True,
            "spark_rows": 5, "oracle_rows": 5, "err": None}}
r = {"q1": {"rows_match": True, "schema_match": True, "hash_match": False,
            "spark_rows": 5, "oracle_rows": 5, "err": None}}
json.dump(g, open(f"{t}/cc_old.json", "w"))
json.dump(r, open(f"{t}/cc_red.json", "w"))
EOF
expect 0 cc_same python3 scripts/correctness_compare.py "$T/cc_old.json" "$T/cc_old.json"
expect 1 cc_green_to_red python3 scripts/correctness_compare.py "$T/cc_old.json" "$T/cc_red.json"
# green->gone (query vanished) must also fail
echo '{"q_other": {"hash_match": true, "err": null}}' > "$T/cc_gone.json"
expect 1 cc_green_to_gone python3 scripts/correctness_compare.py "$T/cc_old.json" "$T/cc_gone.json"
# ANY->gone must fail, not just green->gone: a vanished rows-only query
# shrinks the denominator just as silently (code-review r14)
python3 - "$T" <<'EOF'
import json, sys
t = sys.argv[1]
ro = {"q1": {"hash_match": None, "err": "no_oracle"},
      "q2": {"hash_match": True, "err": None}}
json.dump(ro, open(f"{t}/cc_ro.json", "w"))
json.dump({"q2": ro["q2"]}, open(f"{t}/cc_ro_gone.json", "w"))
EOF
expect 1 cc_rows_only_gone python3 scripts/correctness_compare.py "$T/cc_ro.json" "$T/cc_ro_gone.json"
# legacy r13 GATE_JSON shape must parse (real committed artifact)
expect 0 cc_legacy python3 scripts/correctness_compare.py CORRECTNESS_sf01_r13.json CORRECTNESS_sf01_r13.json

# --- bench_compare --gate: a synthetic slowdown must exit 1
python3 - "$T" <<'EOF'
import json, sys
t = sys.argv[1]
fast = {"metric": "st", "value": 10.0, "unit": "sec",
        "queries": {"qa": 3.0, "qb": 1.0, "qc": 6.0}, "sf": 0.1}
slow = dict(fast, value=16.0, queries={"qa": 9.0, "qb": 1.0, "qc": 6.0})
json.dump(fast, open(f"{t}/b_fast.json", "w"))
json.dump(slow, open(f"{t}/b_slow.json", "w"))
EOF
expect 0 bench_gate_ok python3 scripts/bench_compare.py --gate "$T/b_fast.json" "$T/b_fast.json"
expect 1 bench_gate_slow python3 scripts/bench_compare.py --gate "$T/b_fast.json" "$T/b_slow.json"
# a query that ran in old but failed/vanished in new must FAIL the gate
# (best_of drops zero/failed times — code-review r14)
python3 - "$T" <<'EOF'
import json, sys
t = sys.argv[1]
broke = {"metric": "st", "value": 7.0, "unit": "sec",
         "queries": {"qa": 3.0, "qb": 1.0, "qc": 0}, "sf": 0.1}
json.dump(broke, open(f"{t}/b_broke.json", "w"))
EOF
expect 1 bench_gate_broke python3 scripts/bench_compare.py --gate "$T/b_fast.json" "$T/b_broke.json"

# --- bench_compare --soak: a synthetic throughput collapse must exit 1,
#     a wall blow-up must exit 1, but a latency-percentile-only swing is
#     REPORT-ONLY (bimodal on tiny fixtures — adjudicated when this gate
#     first fired in the r14 ladder at flat wall times)
python3 - "$T" <<'EOF'
import json, sys
t = sys.argv[1]
def art(rps, wall=10.0, p95=100):
    return {"soak": {"throughput": [
        {"phase": "phase1", "wall_sec": wall,
         "queries": {"s1": {"rows_per_sec": rps, "batch_ms_p95": p95}}}]}}
json.dump(art(1000), open(f"{t}/s_old.json", "w"))
json.dump(art(400), open(f"{t}/s_new.json", "w"))
json.dump(art(1000, wall=25.0), open(f"{t}/s_wall.json", "w"))
json.dump(art(1000, p95=90000), open(f"{t}/s_lat.json", "w"))
EOF
expect 0 soak_gate_ok python3 scripts/bench_compare.py --soak "$T/s_old.json" "$T/s_old.json" 20
expect 1 soak_gate_reg python3 scripts/bench_compare.py --soak "$T/s_old.json" "$T/s_new.json" 20
expect 1 soak_gate_wall python3 scripts/bench_compare.py --soak "$T/s_old.json" "$T/s_wall.json" 20
expect 0 soak_gate_latency_info python3 scripts/bench_compare.py --soak "$T/s_old.json" "$T/s_lat.json" 20
grep -q "batch_ms_p95 100 -> 90000" "$T/soak_gate_latency_info.log" || {
  echo "[FAIL] latency swing not reported"; FAIL=1; }
# a phase that vanished from the new run must FAIL; disjoint key sets
# (raw log vs artifact namespaces) must hard-error, not compare nothing
# (code-review r14)
python3 - "$T" <<'EOF'
import json, sys
t = sys.argv[1]
two = {"soak": {"throughput": [
    {"phase": "phase1", "wall_sec": 10.0, "queries": {}},
    {"phase": "phase2", "wall_sec": 10.0, "queries": {}}]}}
one = {"soak": {"throughput": [
    {"phase": "phase1", "wall_sec": 10.0, "queries": {}}]}}
json.dump(two, open(f"{t}/s_two.json", "w"))
json.dump(one, open(f"{t}/s_one.json", "w"))
with open(f"{t}/s_rawlog.txt", "w") as f:
    f.write('soak_throughput {"phase": "phase1", "wall_sec": 10.0, "queries": {}}\n')
EOF
expect 1 soak_phase_gone python3 scripts/bench_compare.py --soak "$T/s_two.json" "$T/s_one.json" 20
expect 1 soak_disjoint_shapes python3 scripts/bench_compare.py --soak "$T/s_rawlog.txt" "$T/s_one.json" 20
# duplicate phase within one section must be a hard error, not a merge
python3 - "$T" <<'EOF'
import json, sys
t = sys.argv[1]
with open(f"{t}/s_dup.json", "w") as f:
    f.write('{"soak": {"throughput": [{"phase": "p", "wall_sec": 1, "queries": {}}, {"phase": "p", "wall_sec": 2, "queries": {}}]}}')
EOF
expect 1 soak_dup_phase python3 scripts/bench_compare.py --soak "$T/s_dup.json" "$T/s_dup.json"
# a QUERY that vanished from a surviving phase must fail like a
# vanished phase — the per-metric None-skip used to pass it (ADVICE r14)
python3 - "$T" <<'EOF'
import json, sys
t = sys.argv[1]
noq = {"soak": {"throughput": [
    {"phase": "phase1", "wall_sec": 10.0, "queries": {}}]}}
json.dump(noq, open(f"{t}/s_qgone.json", "w"))
EOF
expect 1 soak_query_gone python3 scripts/bench_compare.py --soak "$T/s_old.json" "$T/s_qgone.json" 20

# --- bench_compare --gate: true median for even-length ratio lists —
#     ratios [1,1,1.3,1.3] has true median 1.15 < 1.25; the old
#     upper-middle pick (1.3) would have failed this (ADVICE r14)
python3 - "$T" <<'EOF'
import json, sys
t = sys.argv[1]
old = {"metric": "st", "value": 6.0, "unit": "sec",
       "queries": {"qa": 1.0, "qb": 1.0, "qc": 2.0, "qd": 2.0}, "sf": 0.1}
new = dict(old, value=7.2,
           queries={"qa": 1.0, "qb": 1.0, "qc": 2.6, "qd": 2.6})
json.dump(old, open(f"{t}/b_med_old.json", "w"))
json.dump(new, open(f"{t}/b_med_new.json", "w"))
EOF
expect 0 bench_gate_true_median python3 scripts/bench_compare.py --gate "$T/b_med_old.json" "$T/b_med_new.json"

# --- coverage_check (r15): stale citation, red citation, and uncited
#     registry key must each exit 1; a consistent pair must pass
printf 'map cites q01 and the range q02–q03\n' > "$T/cov.md"
cat > "$T/cov_art.json" <<'EOF'
{"q01_a": {"hash_match": true, "err": null},
 "q02_b": {"hash_match": true, "err": null},
 "q03_c": {"hash_match": null, "err": "no_oracle"}}
EOF
expect 0 coverage_green python3 scripts/coverage_check.py "$T/cov.md" "$T/cov_art.json"
printf 'map cites q01 q02 q03 and the STALE q99\n' > "$T/cov_stale.md"
expect 1 coverage_stale python3 scripts/coverage_check.py "$T/cov_stale.md" "$T/cov_art.json"
sed 's/"q02_b": {"hash_match": true/"q02_b": {"hash_match": false/' \
  "$T/cov_art.json" > "$T/cov_red.json"
expect 1 coverage_red python3 scripts/coverage_check.py "$T/cov.md" "$T/cov_red.json"
printf 'map cites only q01\n' > "$T/cov_uncited.md"
expect 1 coverage_uncited python3 scripts/coverage_check.py "$T/cov_uncited.md" "$T/cov_art.json"

# --- testcount: a log without the sbt summary must exit 1 WITH its
#     diagnostic (the set -e assignment trap — code-review r14)
echo "no summary here" > "$T/bad_test.log"
expect 1 testcount_bad scripts/testcount.sh "$T/bad_test.log"
grep -q "no sbt summary" "$T/testcount_bad.log" || {
  echo "[FAIL] testcount_bad: diagnostic missing"; FAIL=1; }
# a PARTIAL summary (totals present, 'Failed N' pattern absent) must
# error out, not emit a line ending in ', failures' (ADVICE r14)
printf 'Total number of tests run: 10\nPassed: Total 10\n' > "$T/partial_test.log"
expect 1 testcount_partial scripts/testcount.sh "$T/partial_test.log"

# --- ladder abort rail: an injected failing first step must abort the
#     ladder BEFORE any artifact-stamping step runs (code-review r13)
expect 1 ladder_abort env GRAFT_LADDER_SMOKE=fail scripts/ladder.sh smoke prev HEAD
grep -q "ABORT" "$T/ladder_abort.log" || {
  echo "[FAIL] ladder_abort: no ABORT line"; FAIL=1; }

# --- forkcount: the shims must count a deliberate chmod, and read 0 for
#     a command that starts none
touch "$T/fc_file"
expect 0 forkcount_chmod scripts/forkcount.sh chmod 600 "$T/fc_file"
grep -qx "1 chmod" "$T/forkcount_chmod.log" || {
  echo "[FAIL] forkcount_chmod: the chmod was not counted"; FAIL=1; }
expect 0 forkcount_none scripts/forkcount.sh true
grep -qx "0 total" "$T/forkcount_none.log" || {
  echo "[FAIL] forkcount_none: counted processes that never started"; FAIL=1; }

# --- threadpeak: a child that starts 8 threads must read at least 9 (its
#     main thread too), and `true` must read exactly 1
peak_threads() { awk -v n="$2" '$2 == n { print $4 }' "$T/$1.log" | sort -n | tail -1; }
expect 0 threadpeak_eight scripts/threadpeak.sh python3 -c \
  'import threading, time; ts = [threading.Thread(target=time.sleep, args=(1,)) for _ in range(8)]; [t.start() for t in ts]; [t.join() for t in ts]'
[ "$(peak_threads threadpeak_eight python3)" -ge 9 ] 2>/dev/null || {
  echo "[FAIL] threadpeak_eight: 8 started threads not seen"; FAIL=1; }
expect 0 threadpeak_true scripts/threadpeak.sh true
[ "$(peak_threads threadpeak_true true)" = 1 ] || {
  echo "[FAIL] threadpeak_true: want 1 thread"; FAIL=1; }

# --- codegencount: a program that logs two CodeGenerator compile lines
#     must read 2 compiles, and `true` must read 0 (the program runs on
#     the jars of the Spark install named by SPARK_HOME)
cat > "$T/Cg.java" <<'EOF'
public class Cg {
  public static void main(String[] a) {
    var l = org.apache.logging.log4j.LogManager.getLogger(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator");
    l.info("Code generated in 1.5 ms");
    l.info("Code generated in 2.5 ms");
  }
}
EOF
expect 0 codegencount_two scripts/codegencount.sh \
  java -cp "${SPARK_HOME:?}/jars/*" "$T/Cg.java"
grep -qx "2 compiles" "$T/codegencount_two.log" || {
  echo "[FAIL] codegencount_two: the two logged compiles were not counted"; FAIL=1; }
expect 0 codegencount_none scripts/codegencount.sh true
grep -qx "0 compiles" "$T/codegencount_none.log" || {
  echo "[FAIL] codegencount_none: counted compiles that never ran"; FAIL=1; }

# --- session_recipe: query code must not register a function or an
#     optimizer rule on its session (GraftExtensions installs both at
#     session build); the tree must read green, and a copy with one
#     registration injected must read red
recipe_clean() { [ -d "$1" ] && ! grep -rnE \
  '\.register\(|extraOptimizations|createOrReplaceTempFunction' "$1"; }
expect 0 session_recipe recipe_clean src/main/scala/graft/queries
cp -r src/main/scala/graft/queries "$T/recipe_queries"
echo '    graft.functions.GramOps.register(s)' >> "$T/recipe_queries/BandOps.scala"
expect 1 session_recipe_injected recipe_clean "$T/recipe_queries"

echo "== selftest $([ $FAIL -eq 0 ] && echo OK || echo FAILED) =="
exit $FAIL
