#!/usr/bin/env python3
"""Compare two sets of benchmark runs: parent and change.

    python3 perfbench/compare.py <parent-records> <change-records>

Each argument is a directory of run records as run.py writes them to
perfbench/results/ (copy them aside between the two commits) or a list
of record files separated by commas. Untraced records only are used.
Prints one row per workload and end-to-end metric: each side's median
and quartiles, the pairs the change won (runs paired by seed), and the
verdict, by the rules of the choosing-metrics guide, section 8:

  improved    the change wins at least 9/10 of the pairs (ties count for
              neither) and the medians differ by more than the distance
              between the parent's quartiles;
  worse       the change's median is worse than the parent's by more
              than the metric's bound in BENCHMARK.json;
  unresolved  the parent's own spread is wider than the bound, and not
              every change run beats every parent run;
  unchanged   otherwise.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(arg):
    paths = (sorted(glob.glob(os.path.join(arg, "*.json")))
             if os.path.isdir(arg) else arg.split(","))
    runs = {}
    for p in paths:
        with open(p) as f:
            r = json.load(f)
        if r.get("trace") == 0:
            runs.setdefault(r["workload"], {})[r["seed"]] = r["end_to_end"]
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def verdict(par, chg, pairs, better, bound):
    sign = -1 if better == "lower" else 1
    mp, mc = statistics.median(par), statistics.median(chg)
    q1, q3 = quartiles(par)
    wins = sum(1 for a, b in pairs if sign * (b - a) > 0)
    ties = sum(1 for a, b in pairs if a == b)
    worse_by = sign * (mp - mc) / mp
    if pairs and wins >= 0.9 * len(pairs) and abs(mc - mp) > q3 - q1 and sign * (mc - mp) > 0:
        v = "improved"
    elif worse_by > bound:
        v = "worse"
    elif (q3 - q1) / mp > bound and not all(sign * (c - p) > 0 for c in chg for p in par):
        v = "unresolved"
    else:
        v = "unchanged"
    return v, wins, ties


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    parent, change = load(sys.argv[1]), load(sys.argv[2])
    print(f"{'workload':12s} {'metric':14s} {'parent median [q1,q3]':>30s} "
          f"{'change median [q1,q3]':>30s} {'wins':>7s}  verdict")
    for w in spec["workloads"]:
        name = w["name"]
        p, c = parent.get(name, {}), change.get(name, {})
        if not p or not c:
            print(f"{name:12s} (no runs on one side)")
            continue
        for m in spec["end_to_end"]:
            k = m["name"]
            par = [r[k] for r in p.values()]
            chg = [r[k] for r in c.values()]
            pairs = [(p[s][k], c[s][k]) for s in sorted(set(p) & set(c))]
            v, wins, ties = verdict(par, chg, pairs, m["better"], m["bound"])
            fmt = lambda xs: "%.4g [%.4g,%.4g]" % ((statistics.median(xs),) + quartiles(xs))
            print(f"{name:12s} {k:14s} {fmt(par):>30s} {fmt(chg):>30s} "
                  f"{wins:>3d}/{len(pairs):<3d}  {v}"
                  + (f" ({ties} ties)" if ties else ""))


if __name__ == "__main__":
    main()
