#!/usr/bin/env python3
"""Interleaved A/B comparison of two source trees on the repository benchmark.

    python3 tools/perfbench_ab.py --base-tree DIR [--workload W ...] [--pairs 10]
        [--seed 1000] [--json out.json]
    python3 tools/perfbench_ab.py --aa [...]          # this tree against itself

The "new" side is the tree this script lives in, as it stands on disk. The
"base" side is an existing checkout given with `--base-tree` (make one with
`git archive <rev> | tar -x -C DIR`), or, with `--aa`, this tree again.
Every run is untraced and lasts the benchmark's `run_seconds`.

Each tree runs its own `perfbench/run.py`, so each builds and caches its
own `target/`. Never copy `target/` between trees: one tree's sbt then
deletes the other's class files. Both trees are built before the first
timed run.

Pair i runs seed `--seed + i` once on each side, alternating which side
runs first (even pairs: base first). For every metric the report gives
each side's median and quartiles, the change's wins over the pairs (ties
count for neither side) and a verdict:
  gain         at least 10 pairs ran, the change won at least 9/10 of
               them, and its median is better than the base median by
               more than the base's quartile distance (IQR);
  regression   an end-to-end metric whose change median is worse than the
               base median by more than the bound in BENCHMARK.json;
  unresolved   an end-to-end metric whose base IQR over its median is
               wider than its bound, so "no worse" cannot be told;
  same         otherwise.
Failed runs and failed operations are counted per side. `--json` writes
every run's metrics, so a report can list both sides in full.
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_spec(tree):
    with open(os.path.join(tree, "BENCHMARK.json")) as f:
        spec = json.load(f)
    metrics = {}
    for m in spec["end_to_end"]:
        metrics[m["name"]] = dict(m, e2e=True)
    for m in spec.get("per_layer", []):
        metrics[m["name"]] = dict(m, e2e=False)
    return spec, metrics


def build(tree):
    """Builds `tree`'s engine and harness through its own run.py."""
    code = ("import sys; sys.dont_write_bytecode = True; sys.path.insert(0, 'perfbench'); "
            "import run; run.build()")
    p = subprocess.run([sys.executable, "-c", code], cwd=tree,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        sys.exit("perfbench_ab: build failed in %s" % tree)


def run_once(tree, workload, seed, seconds):
    """One perfbench run; returns its result dict, or None if the run failed."""
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    lines = p.stdout.splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write("[ab] run failed (%s seed %d in %s): %s\n"
                         % (workload, seed, tree, p.stderr.strip()[-400:]))
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def verdict(m, base, new):
    """Applies the pairwise rule to one metric's paired values; a pair with
    a failed run counts as run but not won."""
    lower = m["better"] == "lower"
    pairs = [(b, n) for b, n in zip(base, new) if b is not None and n is not None]
    wins = sum(1 for b, n in pairs if (n < b if lower else n > b))
    bs = [b for b, _ in pairs]
    ns = [n for _, n in pairs]
    if not pairs:
        return dict(wins=0, pairs=0, verdict="no data")
    bmed, nmed = statistics.median(bs), statistics.median(ns)
    bq1, bq3 = quartiles(bs)
    nq1, nq3 = quartiles(ns)
    gain = (bmed - nmed) if lower else (nmed - bmed)
    out = dict(base_median=bmed, base_q1=bq1, base_q3=bq3,
               new_median=nmed, new_q1=nq1, new_q3=nq3,
               wins=wins, pairs=len(base))
    if len(base) >= 10 and wins >= math.ceil(0.9 * len(base)) and gain > (bq3 - bq1):
        out["verdict"] = "gain"
    elif m["e2e"] and bmed and -gain > m["bound"] * abs(bmed):
        out["verdict"] = "regression"
    elif m["e2e"] and bmed and (bq3 - bq1) / abs(bmed) > m["bound"] and \
            not (max(ns) < min(bs) if lower else min(ns) > max(bs)):
        out["verdict"] = "unresolved"
    else:
        out["verdict"] = "same"
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    side = ap.add_mutually_exclusive_group(required=True)
    side.add_argument("--base-tree", help="existing checkout to use as the base side")
    side.add_argument("--aa", action="store_true", help="run this tree against itself")
    ap.add_argument("--workload", action="append", help="default: every workload")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1000)
    ap.add_argument("--json", help="write every run and the summary here")
    a = ap.parse_args()

    spec, metrics = load_spec(ROOT)
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    seconds = spec["run_seconds"]

    trees = {"base": ROOT if a.aa else os.path.abspath(a.base_tree), "new": ROOT}
    report = {"base": trees["base"], "aa": a.aa, "pairs": a.pairs, "seed": a.seed,
              "seconds": seconds, "workloads": {}}
    for t in sorted(set(trees.values())):
        build(t)
    for w in workloads:
        runs = {"base": [], "new": []}
        for i in range(a.pairs):
            order = ("base", "new") if i % 2 == 0 else ("new", "base")
            for s in order:
                r = run_once(trees[s], w, a.seed + i, seconds)
                runs[s].append(r)
                wall = r["metrics"].get("wall_s", {}).get("value") if r else None
                sys.stderr.write("[ab] %s pair %d %s wall_s=%s\n" % (w, i, s, wall))
        report["workloads"][w] = summarize(w, runs, metrics)
    if a.json:
        with open(a.json, "w") as f:
            json.dump(report, f, indent=1)


def summarize(workload, runs, metrics):
    def value(r, name):
        return r["metrics"][name]["value"] if r and name in r["metrics"] else None

    names = [n for n in metrics if any(value(r, n) is not None for r in runs["new"])]
    rows = {}
    for n in names:
        base = [value(r, n) for r in runs["base"]]
        new = [value(r, n) for r in runs["new"]]
        rows[n] = dict(verdict(metrics[n], base, new), base_runs=base, new_runs=new)
    failures = {s: dict(failed_runs=sum(1 for r in rs if r is None),
                        failed_ops=sum(r["failed"] for r in rs if r),
                        attempted_ops=sum(r["attempted"] for r in rs if r))
                for s, rs in runs.items()}
    # A gain does not count when the change fails more often than the base.
    worse = [failures[s]["failed_runs"] + failures[s]["failed_ops"] for s in ("base", "new")]
    if worse[1] > worse[0]:
        for r in rows.values():
            if r["verdict"] == "gain":
                r["verdict"] = "void (more failures)"
    fmt = "{failed_runs} runs failed, {failed_ops}/{attempted_ops} ops failed"
    print("== %s: %d pairs; base %s; new %s" % (
        workload, len(runs["base"]), fmt.format(**failures["base"]), fmt.format(**failures["new"])))
    print("%-40s %-28s %-28s %6s  %s" % ("metric", "base median [q1, q3]",
                                         "new median [q1, q3]", "wins", "verdict"))
    for n, r in rows.items():
        if "base_median" not in r:
            print("%-40s %s" % (n, r["verdict"]))
            continue
        print("%-40s %-28s %-28s %3d/%-2d  %s" % (
            n, "%.4g [%.4g, %.4g]" % (r["base_median"], r["base_q1"], r["base_q3"]),
            "%.4g [%.4g, %.4g]" % (r["new_median"], r["new_q1"], r["new_q3"]),
            r["wins"], r["pairs"], r["verdict"]))
    sys.stdout.flush()
    return {"failures": failures, "metrics": rows}


if __name__ == "__main__":
    main()
