#!/usr/bin/env python3
"""Measure how steady the end-to-end metrics are across seeds.

    python3 perfbench/steadiness.py --seeds 1-10 [--workloads serve,simjoin]
        [--runs FILE.jsonl] [--summary FILE.json]

Runs the untraced benchmark once per (workload, seed) at the run length
in BENCHMARK.json, appending each result line to the runs file, then
summarizes every metric per workload:
median, first and third quartile (statistics.quantiles, n=4) and the
spread (q3 - q1) / median, next to the metric's bound in BENCHMARK.json.
With --summarize-only it reads an existing runs file instead of running.
With --compare OTHER.jsonl it also reports how much worse each median is
than the median of the other set of runs, as a share of the latter.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run(workload, seed, seconds):
    t0 = time.time()
    proc = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                          cwd=ROOT, stdout=subprocess.PIPE, text=True)
    wall = time.time() - t0
    if proc.returncode != 0:
        return {"workload": workload, "seed": seed, "wall_s": wall, "exit": proc.returncode}
    res = json.loads(proc.stdout.rstrip("\n").split("\n")[-1])
    return {"workload": workload, "seed": seed, "wall_s": wall, "exit": 0, "result": res}


def summarize(records, bench, baseline=None):
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    lower = {m["name"]: m["better"] == "lower" for m in bench["end_to_end"]}
    out = {}
    for w in sorted({r["workload"] for r in records}):
        rs = [r for r in records if r["workload"] == w and r["exit"] == 0]
        row = {"runs": len(rs),
               "failed_runs": sum(1 for r in records if r["workload"] == w and r["exit"] != 0),
               "errors": sum(r["result"]["failed"] for r in rs),
               "wall_s_max": max(r["wall_s"] for r in rs), "metrics": {}}
        for name, bound in bounds.items():
            vals = [r["result"]["metrics"][name]["value"] for r in rs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            row["metrics"][name] = {"median": med, "q1": q1, "q3": q3,
                                    "spread": (q3 - q1) / med, "bound": bound}
            if baseline and w in baseline:
                base = baseline[w]["metrics"][name]["median"]
                worse = (med - base) / base if lower[name] else (base - med) / base
                row["metrics"][name]["worse_than_compared"] = worse
        out[w] = row
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads")
    ap.add_argument("--runs", default=os.path.join(HERE, "out", "steadiness-runs.jsonl"))
    ap.add_argument("--summary")
    ap.add_argument("--summarize-only", action="store_true")
    ap.add_argument("--compare")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]
    if not a.summarize_only:
        os.makedirs(os.path.dirname(os.path.abspath(a.runs)), exist_ok=True)
        for w in workloads:
            for s in seeds(a.seeds):
                rec = run(w, s, seconds)
                with open(a.runs, "a") as fh:
                    fh.write(json.dumps(rec) + "\n")
                print(f"{w} seed {s}: exit {rec['exit']} in {rec['wall_s']:.1f}s", flush=True)
    records = [json.loads(l) for l in open(a.runs)]
    records = [r for r in records if r["workload"] in workloads]
    baseline = None
    if a.compare:
        other = [json.loads(l) for l in open(a.compare)]
        baseline = summarize([r for r in other if r["workload"] in workloads], bench)
    summary = summarize(records, bench, baseline)
    text = json.dumps(summary, indent=2) + "\n"
    if a.summary:
        open(a.summary, "w").write(text)
    for w, row in summary.items():
        print(f"{w}: {row['runs']} runs, {row['errors']} failed operations, "
              f"slowest run {row['wall_s_max']:.1f}s")
        for name, m in row["metrics"].items():
            flag = "" if m["spread"] <= m["bound"] / 3 else "  <-- above bound/3"
            if "worse_than_compared" in m:
                flag = f"  worse than compared {m['worse_than_compared']:+.3f}" + flag
            print(f"  {name:28s} median {m['median']:12.4f}  spread {m['spread']:.3f}"
                  f"  bound {m['bound']}{flag}")


if __name__ == "__main__":
    main()
