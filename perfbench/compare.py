#!/usr/bin/env python3
"""Compare a parent and a change with the benchmark, in alternating pairs.

    # run: for each workload and seed, one run on each checkout, the side
    # that goes first alternating from pair to pair; pairs are saved
    python3 perfbench/compare.py --parent ../parent --change . --seeds 10 --out pairs.json
    # report again from saved pairs
    python3 perfbench/compare.py --pairs pairs.json

For each workload and end-to-end metric it prints each side's median and
quartiles, the fraction of pairs the change wins (ties count for neither
side) and a verdict, using the metric's direction and bound from
BENCHMARK.json:
- unresolved: fewer than ten pairs, or the parent's own spread (quartile
  distance over median) is wider than the bound and not every change run
  beats every parent run;
- worse: the change's median is worse than the parent's by more than the
  bound;
- improved: the change wins at least 9 of 10 pairs and the medians differ
  by more than the parent's quartile distance;
- same: otherwise.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_spec(root):
    spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    return ([w["name"] for w in spec["workloads"]], {m["name"]: m for m in spec["end_to_end"]},
            spec["run_seconds"])


def run_one(root, workload, seed, seconds):
    """The result line of one run in checkout `root`."""
    out = subprocess.run([sys.executable, os.path.join(root, "perfbench", "run.py"),
                          "--workload", workload, "--seed", str(seed),
                          "--seconds", str(seconds), "--trace", "0"],
                         cwd=root, capture_output=True, text=True)
    if out.returncode != 0:
        sys.exit(f"run failed in {root} ({workload}, seed {seed}):\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def collect(parent, change, seeds, seconds, workloads):
    pairs = []
    for w in workloads:
        for i, seed in enumerate(range(1, seeds + 1)):
            sides = [("parent", parent), ("change", change)]
            if i % 2:
                sides.reverse()
            got = {name: run_one(root, w, seed, seconds) for name, root in sides}
            pairs.append({"workload": w, "seed": seed, "first": sides[0][0], **got})
            print(f"{w} seed {seed}: done ({sides[0][0]} first)", file=sys.stderr)
    return pairs


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def verdict(par, chg, metric):
    lower = metric["better"] == "lower"
    bound = metric["bound"]

    def better(a, b):
        return a < b if lower else a > b

    p1, pm, p3 = quartiles(par)
    _, cm, _ = quartiles(chg)
    wins = sum(1 for p, c in zip(par, chg) if better(c, p))
    win_frac = wins / len(par)
    spread = (p3 - p1) / pm
    all_better = all(better(c, p) for c in chg for p in par)
    worse_by = (cm - pm) / pm if lower else (pm - cm) / pm
    if len(par) < 10 or (spread > bound and not all_better):
        v = "unresolved"
    elif worse_by > bound:
        v = "worse"
    elif win_frac >= 0.9 and abs(cm - pm) > (p3 - p1):
        v = "improved"
    else:
        v = "same"
    return win_frac, spread, v


def report(pairs, metrics):
    fails = [(p["workload"], p["seed"], side) for p in pairs for side in ("parent", "change")
             if not p[side]["correct"]]
    for w, s, side in fails:
        print(f"NOTE {side} run of {w} seed {s} failed its output check")
    print(f"{'workload':10s} {'metric':14s} {'parent q1/med/q3':>30s} "
          f"{'change q1/med/q3':>30s} {'wins':>6s} {'spread':>7s} {'bound':>6s}  verdict")
    for w in dict.fromkeys(p["workload"] for p in pairs):
        ps = [p for p in pairs if p["workload"] == w]
        for name, m in metrics.items():
            par = [p["parent"]["metrics"][name]["value"] for p in ps]
            chg = [p["change"]["metrics"][name]["value"] for p in ps]
            win_frac, spread, v = verdict(par, chg, m)
            fmt = "/".join(f"{x:.4g}" for x in quartiles(par))
            fmc = "/".join(f"{x:.4g}" for x in quartiles(chg))
            print(f"{w:10s} {name:14s} {fmt:>30s} {fmc:>30s} {win_frac:6.2f} "
                  f"{spread:7.3f} {m['bound']:6.2f}  {v}  ({len(ps)} pairs, {m['unit']})")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", help="checkout root of the parent")
    ap.add_argument("--change", help="checkout root of the change")
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--out", help="save the pairs here")
    ap.add_argument("--pairs", help="report from saved pairs instead of running")
    a = ap.parse_args()
    workloads, metrics, seconds = load_spec(a.change or os.path.dirname(HERE))
    if a.pairs:
        pairs = json.load(open(a.pairs))
    else:
        if not (a.parent and a.change):
            ap.error("--parent and --change are required unless --pairs is given")
        pairs = collect(os.path.abspath(a.parent), os.path.abspath(a.change), a.seeds,
                        seconds, workloads)
        if a.out:
            json.dump(pairs, open(a.out, "w"))
    report(pairs, metrics)


if __name__ == "__main__":
    main()
