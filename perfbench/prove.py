#!/usr/bin/env python3
"""Run the benchmark repeatedly and record medians, quartiles and spreads.

    python3 perfbench/prove.py [--first-seed 1000] [--traced]

It runs every workload of BENCHMARK.json ten times, each time with another
seed. For every end-to-end metric it reports the
median, the quartiles (`statistics.quantiles(values, n=4)`) and the
spread, the distance between the quartiles as a share of the median, and
compares the spread with the metric's bound in BENCHMARK.json. With
`--traced` it also makes one traced run per workload and records its
per-layer figures. The result is written to `perfbench/baseline.json`.
"""
import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = 10
OUT = os.path.join(HERE, "baseline.json")


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} failed:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values), "values": values}


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--first-seed", type=int, default=1000)
    ap.add_argument("--traced", action="store_true")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    out = {"date": time.strftime("%Y-%m-%d"), "host": platform.node(),
           "nproc": len(os.sched_getaffinity(0)), "run_seconds": bench["run_seconds"],
           "runs": RUNS, "workloads": {}}
    for w in (w["name"] for w in bench["workloads"]):
        vals, failed, attempted, elapsed = {}, 0, 0, []
        for i in range(RUNS):
            t = time.time()
            r = run(w, a.first_seed + i, bench["run_seconds"], 0)
            elapsed.append(time.time() - t)
            failed += r["failed"]
            attempted += r["attempted"]
            for k, v in r["metrics"].items():
                vals.setdefault(k, []).append(v["value"])
        stats = {k: summary(v) for k, v in vals.items()}
        entry = {"failed": failed, "attempted": attempted,
                 "run_elapsed_s": summary(elapsed), "end_to_end": stats}
        for k, s in stats.items():
            flag = "" if k == "setup_s" or s["spread"] <= bounds[k] / 3 else "  <-- above bound/3"
            print(f"{w:<16} {k:<14} median {s['median']:10.4f}  spread {s['spread']:.3f}"
                  f"  bound {bounds[k]}{flag}", flush=True)
        if a.traced:
            r = run(w, a.first_seed, bench["run_seconds"], 1)
            entry["per_layer"] = {k: v["value"] for k, v in r["metrics"].items()}
        out["workloads"][w] = entry
    with open(OUT, "w") as f:
        json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
