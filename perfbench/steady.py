#!/usr/bin/env python3
"""Steadiness check of the benchmark, run from the root of a checkout:

    python3 perfbench/steady.py --seeds 1-10 --out perfbench/baseline/set1.json
    python3 perfbench/steady.py --seeds 101 --trace --out perfbench/baseline/traced.json

Runs perfbench/run.py once per workload and seed (one at a time), keeps
every raw value, and reports per workload and metric the median, the
quartiles (statistics.quantiles, n=4) and the spread: the interquartile
distance as a share of the median. Each spread is compared with the
metric's bound in BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import stats  # noqa: E402


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,7")
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace", action="store_true")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {"trace": a.trace, "run_seconds": spec["run_seconds"], "host_cpus": os.cpu_count(),
              "workloads": {}}
    for w in workloads:
        runs = []
        for s in seeds(a.seeds):
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(spec["run_seconds"]),
                                "--trace", "1" if a.trace else "0"],
                               cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
            res = json.loads(line) if p.returncode == 0 else {}
            runs.append({"seed": s, "exit": p.returncode, "wall_s": round(time.time() - t0, 1),
                         "correct": res.get("correct"), "attempted": res.get("attempted"),
                         "failed": res.get("failed"),
                         "metrics": {k: v["value"] for k, v in res.get("metrics", {}).items()}})
            print(w, s, runs[-1]["exit"], runs[-1]["wall_s"], runs[-1]["correct"], file=sys.stderr)
        summary = {}
        names = sorted({k for r in runs for k in r["metrics"]})
        for k in names:
            vals = [r["metrics"][k] for r in runs if k in r["metrics"] and r["metrics"][k] is not None]
            entry = {"n": len(vals), "median": statistics.median(vals) if vals else None}
            if len(vals) >= 2:
                q1, _, q3 = statistics.quantiles(vals, n=4)
                entry.update(q1=q1, q3=q3, spread=stats.spread(vals) if entry["median"] else None)
                if k in bounds:
                    entry.update(bound=bounds[k], within_third_of_bound=entry["spread"] is not None
                                 and entry["spread"] < bounds[k] / 3)
            summary[k] = entry
        report["workloads"][w] = {"runs": runs, "summary": summary}
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    with open(a.out, "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
