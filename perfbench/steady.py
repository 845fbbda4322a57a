"""Steadiness check: runs the benchmark repeatedly and reports, for each
workload and end-to-end metric, the median, the quartiles and the spread
(interquartile distance as a share of the median, from
`statistics.quantiles(values, n=4)`), next to the metric's bound in
BENCHMARK.json. A metric is steady when its spread is below a third of its
bound; the spread of a steady metric, times three, is the tightest bound
it can carry.

Usage: python3 perfbench/steady.py [--runs 10] [--first-seed 1]
         [--workloads a,b] [--seconds S]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def run(workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.exit(f"{workload} seed {seed} failed:\n{r.stderr[-3000:]}")
    out = json.loads(lines[-1])
    out["wall_s"] = time.time() - t0
    return out


def main():
    bench = json.load(open("BENCHMARK.json"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {}
    for w in args.workloads.split(","):
        runs = []
        for i in range(args.runs):
            r = run(w, args.first_seed + i, args.seconds)
            runs.append(r)
            print(f"{w} seed={args.first_seed + i} correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']} wall={r['wall_s']:.1f}s "
                  + " ".join(f"{k}={v['value']:.4f}" for k, v in sorted(r["metrics"].items())),
                  flush=True)
        rows = {}
        for name in bounds:
            vals = [r["metrics"][name]["value"] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            rows[name] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                          "bound": bounds[name], "steady": spread < bounds[name] / 3}
            print(f"  {w:15s} {name:18s} median={med:.4f} q1={q1:.4f} q3={q3:.4f} "
                  f"spread={spread:.3f} bound={bounds[name]} "
                  f"{'steady' if rows[name]['steady'] else 'NOT STEADY'}", flush=True)
        rows["wall_s"] = [r["wall_s"] for r in runs]
        rows["correct"] = all(r["correct"] for r in runs)
        report[w] = rows
    os.makedirs(".bench_build", exist_ok=True)
    path = f".bench_build/steady-{int(time.time())}.json"
    with open(path, "w") as f:
        json.dump(report, f, indent=1)
    print(f"report: {path}")


if __name__ == "__main__":
    main()
