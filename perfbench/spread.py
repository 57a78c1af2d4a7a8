#!/usr/bin/env python3
"""Runs one workload once per seed and reports, for each end-to-end
metric, the median, the quartiles and the spread (quartile distance as a
share of the median, from statistics.quantiles(values, n=4)).

Usage (from the repository root):
  python3 perfbench/spread.py --workload dag_refresh --seeds 1-10 [--record]

--record adds the summary as one more set of the workload's baseline in
perfbench/record.json (two sets of the same code show how far medians
move between sets).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="5")
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    runs = []
    for s in seeds(a.seeds):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                            a.workload, "--seed", str(s), "--seconds", a.seconds,
                            "--trace", "0"], cwd=ROOT, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True)
        if r.returncode != 0:
            sys.exit(f"seed {s}: exit {r.returncode}")
        res = json.loads(r.stdout.strip().splitlines()[-1])
        if not res["correct"]:
            sys.exit(f"seed {s}: incorrect output ({res['failed']} failed)")
        runs.append({k: v["value"] for k, v in res["metrics"].items()})
        print(json.dumps({"seed": s, **runs[-1]}), flush=True)
    summary = {m: summarize([r[m] for r in runs]) for m in runs[0]}
    summary["seeds"] = seeds(a.seeds)
    print(json.dumps(summary, indent=1))
    if a.record:
        path = os.path.join(HERE, "record.json")
        with open(path) as fh:
            rec = json.load(fh)
        rec["baseline"].setdefault(a.workload, []).append(summary)
        with open(path, "w") as fh:
            json.dump(rec, fh, indent=1)
            fh.write("\n")


if __name__ == "__main__":
    main()
