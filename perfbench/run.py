"""Benchmark entry point.

    python3 perfbench/run.py --workload suite|pipeline --seed N \
        --seconds S --trace 0|1

Run from the repository root. Builds the program from source (see
build.py), generates the workload's inputs from the seed (gen.py), runs
the workload in one fresh JVM at sf0.1 with `nproc` Spark task threads
(at most 4) and one client thread, checks the outputs against DuckDB
(checks.py), and prints one JSON line last:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
the per-layer ones, and `trace.json` (every span) is left in the work
directory. Exits nonzero when the build, the run or any check fails.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

SF_DIR = os.environ.get("PERFBENCH_SF_DIR", "/root/testdata/sf0.1")
CORES = min(4, os.cpu_count() or 1)
# Seconds of one timed unit at 4 cores, as measured (a suite pass, a
# pipeline round); a run does round(seconds / nominal) units, at least 1,
# so its work is fixed by --seconds alone.
NOMINAL_UNIT_S = {"suite": 4.0, "pipeline": 30.0}
# The JVM may take this long for set-up and the checks' inputs, plus three
# times the nominal length of its timed units, before it is stopped.
SETUP_ALLOWANCE_S = 60
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def jvm_command(cp, work, main, args, cores=CORES):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java"] + opens +
            ["-Xms3g", "-Xmx3g", "-Xmn512m", "-XX:+UseG1GC", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Dspark.local.dir={tmp}",
             f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
             "-cp", cp, main] + [str(a) for a in args])


def run_jvm(cmd, work, log_name, timeout):
    log = os.path.join(work, log_name)
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, cwd=work, stdout=f, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: JVM timed out, see {log}")
        finally:
            if p.poll() is None:  # timed out, or this process was stopped
                p.kill()
                p.wait()
    if code != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"perfbench: JVM exited {code}, see {log}")


def increments_arg(manifest):
    """`log:db:yyyyMMdd` per increment, the warm-up files first."""
    def date(ms):
        return time.strftime("%Y%m%d", time.gmtime((ms - 1) / 1000))
    incs = [(i["files"], i["end_ms"]) for i in manifest["increments"]]
    incs.insert(0, (manifest["warm_files"], incs[0][1]))
    return ",".join(f"{f['topic_log']}:{f['topic_db']}:{date(end)}" for f, end in incs)


def main():
    # a stop request unwinds like an exit, so the JVM is stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(NOMINAL_UNIT_S))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=CORES)
    a = ap.parse_args()

    cp = build.build()
    work = os.path.join(build.build_dir(), "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    t_setup = time.time()
    manifest = None
    inc = ""
    bus = os.path.join(work, "bus")
    if a.workload != "suite":
        manifest = gen.generate(SF_DIR, bus, a.seed)
        inc = increments_arg(manifest)
    units = max(1, round(a.seconds / NOMINAL_UNIT_S[a.workload]))
    cmd = jvm_command(cp, work, "perfbench.Main",
                      [a.workload, work, bus, SF_DIR, a.cores, units, a.trace, inc])
    run_jvm(cmd, work, "jvm.log",
            SETUP_ALLOWANCE_S + 3 * units * NOMINAL_UNIT_S[a.workload])
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)
    setup_s = res["setup_end_epoch_ms"] / 1000 - t_setup

    for e in res.get("errors", []):
        print(f"OPERATION FAILED: {e}", file=sys.stderr)
    problems = checks.check(a.workload, res, manifest, SF_DIR, work)
    # a failed operation makes the run wrong, and the timings below come
    # only from units (Main.cleanMs) and queries that did not fail
    if res["failed"]:
        problems.append(f"{int(res['failed'])} operations failed")
    missing = sorted(set(res["timed_names"]) - set(res["query_ms"]))
    if missing:
        problems.append(f"no successful timed call of {missing}")
    if not res["pass_ms"]:
        problems.append("no timed unit ran without a failed operation")
    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    correct = not problems

    if a.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)}
                   for k, v in res["per_layer"].items()}
    elif correct:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "rss_peak_mb": {"value": res["rss_peak_mb"], "unit": "MB"},
            # best of the run's timed units and calls: noise only ever adds
            "pass_s": {"value": min(res["pass_ms"]) / 1000, "unit": "s"},
            "query_gmean_ms": {"value": statistics.geometric_mean(
                min(v) for v in res["query_ms"].values()), "unit": "ms"},
        }
    else:
        metrics = {}
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    if not correct:
        sys.exit(1)


def unit_of(name):
    suffix = name.rsplit("_", 1)[-1]
    return {"ms": "ms", "bytes": "bytes", "mb": "MB"}.get(suffix, "count")


if __name__ == "__main__":
    main()
