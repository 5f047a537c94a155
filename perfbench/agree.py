#!/usr/bin/env python3
"""Agreement command: runs every workload of BENCHMARK.json in two
interleaved sets of untraced runs of ``run_seconds`` each (A, B, A, B,
...; every run with its own seed) and prints, per end-to-end metric, each
set's median and quartiles, the spread of all runs (interquartile range
over median), the shift of set B's median from set A's, and the metric's
bound.

    python3 perfbench/agree.py --runs 5 --seed 1

Run from the repository root. A metric is steady when its spread and its
shift both stay within a third of its bound; ``setup_s`` is judged on
its shift alone.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload, seed, seconds):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-2000:])
        raise SystemExit(f"{workload} seed {seed}: exit {r.returncode}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description="two interleaved sets of benchmark runs")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap.add_argument("--runs", type=int, default=5, help="runs per set")
    ap.add_argument("--seed", type=int, default=1, help="first seed")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seed = a.seed
    for w in (w["name"] for w in bench["workloads"]):
        sets = {"A": [], "B": []}
        for _ in range(a.runs):
            for name in ("A", "B"):
                res = run_once(w, seed, bench["run_seconds"])
                sets[name].append(res)
                print(f"  {w} set {name} seed {seed}: " + " ".join(
                    f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
                seed += 1
        print(f"== {w}: failed share A "
              + " ".join(f"{r['failed']}/{r['attempted']}" for r in sets["A"]) + " | B "
              + " ".join(f"{r['failed']}/{r['attempted']}" for r in sets["B"]))
        print(f"{'metric':28} {'A q1/med/q3':>30} {'B q1/med/q3':>30} "
              f"{'spread':>7} {'shift':>7} {'bound':>6}")
        for k in sets["A"][0]["metrics"]:
            qa = quartiles([r["metrics"][k]["value"] for r in sets["A"]])
            qb = quartiles([r["metrics"][k]["value"] for r in sets["B"]])
            q1, q2, q3 = quartiles([r["metrics"][k]["value"]
                                    for s in sets.values() for r in s])
            spread = (q3 - q1) / q2 if q2 else float("nan")
            shift = qb[1] / qa[1] - 1 if qa[1] else float("nan")
            print(f"{k:28} {'/'.join(f'{v:.4g}' for v in qa):>30} "
                  f"{'/'.join(f'{v:.4g}' for v in qb):>30} {spread:7.3f} {shift:+7.3f} "
                  f"{bounds[k]:>6}", flush=True)


if __name__ == "__main__":
    main()
