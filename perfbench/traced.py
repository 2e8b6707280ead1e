#!/usr/bin/env python3
"""Produce the committed per-layer artifacts and the tracing overhead.

    python3 perfbench/traced.py [--seeds 1-3] [--workloads serve,simjoin]

For each workload and seed it runs the benchmark untraced and then
traced, same seed and run length. The first seed's per-call table
(perfbench/out/traced-<workload>-seed<N>-calls.md) is copied to
perfbench/results/layers-<workload>.md. perfbench/results/
tracing_overhead.json gets, for every end-to-end metric, each pair's
untraced and traced value and the median over the pairs of
(traced - untraced) / untraced. Run-to-run drift is as large as the
overhead, so read the median, not a single pair.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

from steadiness import seeds as parse_seeds

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
RESULTS = os.path.join(HERE, "results")


def run(workload, seed, seconds, trace):
    proc = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                          cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True)
    return json.loads(proc.stdout.rstrip("\n").split("\n")[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1-3")
    ap.add_argument("--workloads")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]
    seeds = parse_seeds(a.seeds)
    os.makedirs(RESULTS, exist_ok=True)
    overhead = {"seeds": seeds, "seconds": seconds, "workloads": {}}
    for w in workloads:
        pairs = []
        for seed in seeds:
            plain = run(w, seed, seconds, 0)
            traced = run(w, seed, seconds, 1)
            stem = os.path.join(OUT, f"traced-{w}-seed{seed}")
            with open(stem + "-e2e.json") as fh:
                traced_e2e = json.load(fh)
            pairs.append({"seed": seed,
                          "attempted": [plain["attempted"], traced["attempted"]],
                          "failed": [plain["failed"], traced["failed"]],
                          "untraced": {n: m["value"] for n, m in plain["metrics"].items()},
                          "traced": {n: m["value"] for n, m in traced_e2e.items()}})
            if seed == seeds[0]:
                shutil.copyfile(stem + "-calls.md", os.path.join(RESULTS, f"layers-{w}.md"))
            print(f"{w} seed {seed}: traced run {traced['attempted']} operations, "
                  f"{traced['failed']} failed", flush=True)
        names = list(pairs[0]["untraced"])
        overhead["workloads"][w] = {
            "median_delta_share": {n: statistics.median(
                (p["traced"][n] - p["untraced"][n]) / p["untraced"][n] for p in pairs) for n in names},
            "pairs": pairs}
    with open(os.path.join(RESULTS, "tracing_overhead.json"), "w") as fh:
        json.dump(overhead, fh, indent=2)
        fh.write("\n")


if __name__ == "__main__":
    main()
