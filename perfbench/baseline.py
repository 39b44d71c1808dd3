#!/usr/bin/env python3
"""Measure the per-layer baseline table of every workload.

    python3 perfbench/baseline.py --seeds 1,2

For each workload and seed it runs the benchmark untraced and traced, then
prints a markdown table: the median over seeds of each per-layer metric from
the traced runs, the untraced and traced warm_pass_s, and their difference
(the tracing overhead).
"""
import argparse
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import layers  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


def one(workload, seed, trace, seconds):
    p = subprocess.run([sys.executable, os.path.join(run.HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=run.ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"{workload} seed {seed} trace {trace} failed:\n{p.stdout[-2000:]}{p.stderr[-2000:]}")
    warm = next(float(l.split()[1]) for l in lines if l.startswith("warm_pass_s "))
    return warm, json.loads(lines[-1])["metrics"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1,2")
    ap.add_argument("--seconds", type=int, default=10)
    a = ap.parse_args()
    seeds = [int(s) for s in a.seeds.split(",")]
    names = sorted(run.WORKLOADS, key=lambda w: ["flagship", "iterative", "media"].index(w))
    cols = {}
    for w in names:
        plain, traced, per = [], [], {}
        for s in seeds:
            plain.append(one(w, s, 0, a.seconds)[0])
            warm, m = one(w, s, 1, a.seconds)
            traced.append(warm)
            for k, v in m.items():
                per.setdefault(k, []).append(v["value"])
        cols[w] = {k: metrics.median(v) for k, v in per.items()}
        cols[w]["_plain"] = metrics.median(plain)
        cols[w]["_traced"] = metrics.median(traced)
    print(f"Median over seeds {a.seeds}, --seconds {a.seconds}.\n")
    print("| metric | unit | " + " | ".join(names) + " |")
    print("|---|---|" + "---|" * len(names))
    for k, unit, _ in layers.LAYER_METRICS:
        print(f"| `{k}` | {unit} | " + " | ".join(f"{cols[w][k]:.4g}" for w in names) + " |")
    for label, key in (("warm_pass_s untraced", "_plain"), ("warm_pass_s traced", "_traced")):
        print(f"| {label} | s | " + " | ".join(f"{cols[w][key]:.4g}" for w in names) + " |")
    print("| tracing overhead | s | " + " | ".join(
        f"{cols[w]['_traced'] - cols[w]['_plain']:+.3f} ({100 * (cols[w]['_traced'] / cols[w]['_plain'] - 1):+.1f}%)"
        for w in names) + " |")


if __name__ == "__main__":
    main()
