"""Steadiness command: runs each workload of BENCHMARK.json N times with
seeds 1..N and `--seconds` set to its `run_seconds`, and prints, per
end-to-end metric, the median, the quartiles, min and max, and the
quartile spread as a share of the median. This is the evidence the bounds
in BENCHMARK.json are set from.

    python3 perfbench/steady.py [--runs 10]

Run from the repository root.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run_once(workload, seed, seconds):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    return json.loads(lines[-1])


def summary(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "min": min(values),
            "max": max(values), "iqr_share": (q3 - q1) / med}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in (x["name"] for x in bench["workloads"]):
        runs = []
        for seed in range(1, a.runs + 1):
            r = run_once(w, seed, bench["run_seconds"])
            runs.append(r)
            print(f"{w} seed {seed}: " + " ".join(
                f"{k}={m['value']:.4g}" for k, m in r["metrics"].items()), flush=True)
        shares = sorted({r["failed"] / r["attempted"] for r in runs})
        print(f"== {w}: correct={all(r['correct'] for r in runs)} failed share={shares}")
        for k in runs[0]["metrics"]:
            s = summary([r["metrics"][k]["value"] for r in runs])
            print(f"  {k:<16} median {s['median']:<12.5g} q1 {s['q1']:<12.5g} "
                  f"q3 {s['q3']:<12.5g} min {s['min']:<12.5g} max {s['max']:<12.5g} "
                  f"iqr/median {s['iqr_share']:.4f}", flush=True)


if __name__ == "__main__":
    main()
