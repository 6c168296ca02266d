#!/usr/bin/env python3
"""Steadiness check: run one or more workloads over several seeds, in one
or two sets, and report each end-to-end metric's spread (interquartile range
over median) and, with two sets, how far the second median moved from the
first, against the bounds in BENCHMARK.json.

    python3 perfbench/steady.py --workload federated_sql --runs 10 --sets 2

Run from the root of a graft checkout. Seeds are 1..runs in the first set and
runs+1..2*runs in the second.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def one(workload, seed, seconds):
    t0 = time.time()
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       capture_output=True, text=True)
    if r.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} failed:\n{r.stderr[-2000:]}")
    lines = r.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    steal = json.loads(lines[0])["provenance"]["cpu_steal_pct"]
    if not res["correct"]:
        raise SystemExit(f"{workload} seed {seed} reported wrong results:\n{r.stderr[-2000:]}")
    return {k: v["value"] for k, v in res["metrics"].items()}, time.time() - t0, steal


def spread(xs):
    q = statistics.quantiles(xs, n=4)
    return (q[2] - q[0]) / statistics.median(xs)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, choices=[1, 2], default=1)
    a = ap.parse_args()
    bench = json.load(open(os.path.join(os.getcwd(), "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    sign = {m["name"]: 1 if m["better"] == "lower" else -1 for m in bench["end_to_end"]}
    ok = True
    for w in a.workload:
        sets = []
        for s in range(a.sets):
            runs = []
            for i in range(a.runs):
                seed = s * a.runs + i + 1
                metrics, wall, steal = one(w, seed, bench["run_seconds"])
                runs.append(metrics)
                print(f"{w} seed {seed} ({wall:.0f} s, steal {steal}%): " +
                      json.dumps({k: round(v, 4) for k, v in metrics.items()}), flush=True)
            sets.append(runs)
        for name, bound in bounds.items():
            cols = [[r[name] for r in runs] for runs in sets]
            sp = [spread(c) for c in cols]
            line = f"{w} {name}: median {statistics.median(cols[0]):.4g} spread " + \
                   " / ".join(f"{x:.3f}" for x in sp) + f" (bound {bound})"
            if any(x > bound for x in sp):
                ok = False
                line += " SPREAD TOO WIDE"
            if len(cols) == 2:
                shift = statistics.median(cols[1]) / statistics.median(cols[0]) - 1
                line += f", second set {shift:+.3f}"
                if sign[name] * shift > bound:
                    ok = False
                    line += " SECOND SET WORSE"
            print(line, flush=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
