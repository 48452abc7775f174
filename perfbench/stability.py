#!/usr/bin/env python3
"""Run-to-run stability of the end-to-end metrics.

    python3 perfbench/stability.py [--runs 10] [--out perfbench/results/stability.json]

Makes two sets of untraced runs of every workload in BENCHMARK.json, set A
on seeds 101.., set B on seeds 201.., interleaved so that a slow stretch of
the host falls on both sets alike. Writes every value, each set's median and
spread (interquartile range over median, quartiles as Python's
statistics.quantiles(n=4) gives them), and whether set B's median is worse
than set A's by no more than the metric's bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETS = {"A": 101, "B": 201}


def run(workload, seed, seconds):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
    if p.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} failed ({p.returncode})")
    return json.loads(p.stdout.strip().splitlines()[-1])


def summary(values):
    q = statistics.quantiles(values, n=4)
    m = statistics.median(values)
    return {"median": m, "spread": (q[2] - q[0]) / m}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--out", default=os.path.join(HERE, "results", "stability.json"))
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    runs = {w["name"]: {s: [] for s in SETS} for w in spec["workloads"]}
    for i in range(a.runs):
        for w in runs:
            for s, seed0 in SETS.items():
                r = run(w, seed0 + i, spec["run_seconds"])
                runs[w][s].append({"seed": seed0 + i, "correct": r["correct"],
                                   "failed": r["failed"],
                                   **{k: v["value"] for k, v in r["metrics"].items()}})
                print(f"{w} set {s} seed {seed0 + i}: correct {r['correct']}",
                      file=sys.stderr, flush=True)
    report = {"command": "python3 perfbench/stability.py --runs %d" % a.runs,
              "workloads": {}}
    for w, sets in runs.items():
        out = {"runs": sets, "metrics": {}}
        for k, m in metrics.items():
            sa = summary([r[k] for r in sets["A"]])
            sb = summary([r[k] for r in sets["B"]])
            worse = (sb["median"] - sa["median"]) / sa["median"]
            if m["better"] == "higher":
                worse = -worse
            out["metrics"][k] = {"bound": m["bound"], "A": sa, "B": sb,
                                 "b_worse_than_a": worse,
                                 "agree": worse <= m["bound"]}
        out["all_correct"] = all(r["correct"] and r["failed"] == 0
                                 for rs in sets.values() for r in rs)
        report["workloads"][w] = out
    with open(a.out, "w") as f:
        json.dump(report, f, indent=1)
        f.write("\n")
    for w, out in report["workloads"].items():
        print(w, "all correct" if out["all_correct"] else "NOT ALL CORRECT")
        for k, v in out["metrics"].items():
            print(f"  {k:22s} A {v['A']['median']:10.2f} ({v['A']['spread']:.3f})  "
                  f"B {v['B']['median']:10.2f} ({v['B']['spread']:.3f})  "
                  f"B worse by {v['b_worse_than_a']:+.3f} / {v['bound']}  "
                  f"{'ok' if v['agree'] else 'DISAGREE'}")


if __name__ == "__main__":
    main()
