#!/usr/bin/env python3
"""Records the committed traced run: results/traced_run.json.

    python3 perfbench/record_trace.py [--seed N]

For each workload in BENCHMARK.json it runs the benchmark untraced, then
traced, with the same seed and run length. It stores both results and
the tracing overhead, which is the traced wall_s minus the untraced
wall_s.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True)
    lines = [json.loads(l) for l in p.stdout.splitlines() if l.startswith("{")]
    info = next(l["info"] for l in lines if "info" in l)
    return lines[-1], info


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    out = {"seed": a.seed, "seconds": bench["run_seconds"], "workloads": {}}
    for w in (x["name"] for x in bench["workloads"]):
        untraced, uinfo = run(w, a.seed, bench["run_seconds"], 0)
        traced, tinfo = run(w, a.seed, bench["run_seconds"], 1)
        wall = untraced["metrics"]["wall_s"]["value"]
        twall = traced["metrics"]["trace.wall_s"]["value"]
        out["workloads"][w] = {
            "untraced": untraced, "untraced_info": uinfo,
            "traced": traced, "traced_info": tinfo,
            "tracing_overhead_s": twall - wall,
        }
        print("%s: wall_s %.3f untraced, %.3f traced, overhead %+.3f s"
              % (w, wall, twall, twall - wall))
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    with open(os.path.join(HERE, "results", "traced_run.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
