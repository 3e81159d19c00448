#!/usr/bin/env python3
"""Steadiness check: the evidence behind the bounds in BENCHMARK.json.

    python3 perfbench/steady.py [--runs 10] [--sets 1] [--trace 0|1] [--seed0 1000]

Runs every workload `runs` times per set, each run with its own seed, and
prints per metric the median and quartiles of each set
(statistics.quantiles(n=4)), the spread (Q3 - Q1) / median, and the bound.
With --trace 0 a spread must stay under a third of the metric's bound
(setup_s excepted), and with two sets each later set's median must not be
worse than the first set's by more than the bound; either failure makes the
exit code 1. With --trace 1 the per-layer metrics are printed instead,
including trace.overhead_pct (traced minus untraced pass time, within a
run).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-2000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--seed0", type=int, default=1000)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    metrics = bench["per_layer" if args.trace else "end_to_end"]
    ok = True
    for w in names:
        sets = []
        for s in range(args.sets):
            results = []
            for i in range(args.runs):
                seed = args.seed0 + s * args.runs + i
                r = run(w, seed, bench["run_seconds"], args.trace)
                print(json.dumps({"workload": w, "set": s, "seed": seed, "correct": r["correct"],
                                  **{k: round(v["value"], 4) for k, v in r["metrics"].items()}}),
                      flush=True)
                if not r["correct"]:
                    print(f"{w}: run {i} of set {s} failed its output check", flush=True)
                    ok = False
                results.append(r["metrics"])
            sets.append(results)
        print(f"\n== {w}: {args.sets} set(s) x {args.runs} runs", flush=True)
        print(f"{'metric':24s} {'set':>3s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
              f"{'spread':>8s} {'bound':>6s} {'vs set 0':>9s}")
        for m in metrics:
            name, bound = m["name"], m.get("bound")
            first = None
            for s, results in enumerate(sets):
                vals = [r[name]["value"] for r in results]
                med = statistics.median(vals)
                q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
                spread = (q3 - q1) / abs(med) if med else 0.0
                if first is None:
                    first, change = med, 0.0
                else:
                    worse = (med - first) if m["better"] == "lower" else (first - med)
                    change = worse / abs(first) if first else 0.0
                flag = ""
                if bound is not None:
                    if name != "setup_s" and spread >= bound / 3:
                        flag, ok = " SPREAD", False
                    if change > bound:
                        flag, ok = flag + " DRIFT", False
                print(f"{name:24s} {s:3d} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.1%} "
                      f"{'' if bound is None else f'{bound:.0%}':>6s} {change:9.1%}{flag}",
                      flush=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
