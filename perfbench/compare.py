#!/usr/bin/env python3
"""Spread of one set of benchmark runs, or an A/B verdict between two.

    python3 perfbench/compare.py RUNS              # median, quartiles, spread
    python3 perfbench/compare.py PARENT CHANGE     # A/B verdict per metric

RUNS, PARENT and CHANGE are directories of run records (perfbench/results/
after runs, or a copy of it). Records are grouped by workload and trace mode;
the A/B pairs a parent and a change run that used the same seed.

A/B verdicts follow the rule the benchmark was defined with: "improved" or
"worse" needs the change to win (or lose) at least 9 of every 10 pairs, ties
counting for neither side, and the medians to differ by more than the
parent's interquartile range. Otherwise a metric with a bound is "worse" when
the change's median is worse than the parent's by more than the bound,
"unresolved" when the parent's own spread is wider than the bound (unless
every change run beats every parent run), and "unchanged" otherwise.
"""
import glob
import json
import os
import statistics
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))


def load(path):
    runs = {}
    for f in sorted(glob.glob(os.path.join(path, "*.json"))):
        r = json.load(open(f))
        runs.setdefault((r["workload"], r["trace"]), []).append(r)
    return runs


def spec():
    """Bound and direction of each metric, from BENCHMARK.json."""
    path = os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")
    b = json.load(open(path))
    return {m["name"]: (m.get("bound"), m["better"]) for m in b["end_to_end"] + b["per_layer"]}


def quartiles(xs):
    """(q1, median, q3), as statistics.quantiles(xs, n=4) cuts them."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    return tuple(statistics.quantiles(xs, n=4))


def summary(runs):
    print(f"{'workload':16} {'metric':28} {'n':>3} {'median':>11} {'q1':>11} {'q3':>11} {'spread':>7}")
    for (w, t), rs in sorted(runs.items()):
        for name in rs[0]["metrics"]:
            xs = [r["metrics"][name] for r in rs]
            q1, med, q3 = quartiles(xs)
            spread = (q3 - q1) / med if med else float("nan")
            print(f"{w:16} {name:28} {len(xs):3d} {med:11.4f} {q1:11.4f} {q3:11.4f} {spread:7.3f}")
        print(f"{w:16} {'(failed/attempted)':28} {len(rs):3d} "
              f"{sum(r['failed'] for r in rs)}/{sum(r['attempted'] for r in rs)}")


def verdict(parent, change, bound, better):
    """improved / worse / unchanged / unresolved for seed-paired runs, with
    the pairs the change won and lost (ties count for neither)."""
    sign = 1 if better == "higher" else -1
    n = len(parent)
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    losses = sum(1 for p, c in zip(parent, change) if sign * (c - p) < 0)
    pq1, pmed, pq3 = quartiles(parent)
    cmed = statistics.median(change)
    iqr = pq3 - pq1
    all_better = (min(change) > max(parent)) if sign > 0 else (max(change) < min(parent))
    if wins >= 0.9 * n and abs(cmed - pmed) > iqr:
        v = "improved"
    elif losses >= 0.9 * n and abs(cmed - pmed) > iqr:
        v = "worse"
    elif bound is None:
        v = "unresolved"
    elif iqr > bound * abs(pmed) and not all_better:
        v = "unresolved"
    elif sign * (cmed - pmed) < -bound * abs(pmed):
        v = "worse"
    else:
        v = "unchanged"
    return v, wins, losses, n


def ab(parent_runs, change_runs):
    bounds = spec()
    print(f"{'workload':16} {'metric':28} {'parent med [q1,q3]':>30} {'change med [q1,q3]':>30} "
          f"{'won':>7} verdict")
    for key in sorted(set(parent_runs) & set(change_runs)):
        by_seed_p = {r["seed"]: r for r in parent_runs[key]}
        by_seed_c = {r["seed"]: r for r in change_runs[key]}
        seeds = sorted(set(by_seed_p) & set(by_seed_c))
        if not seeds:
            continue
        for name in by_seed_p[seeds[0]]["metrics"]:
            p = [by_seed_p[s]["metrics"][name] for s in seeds]
            c = [by_seed_c[s]["metrics"][name] for s in seeds]
            bound, better = bounds.get(name, (None, "lower"))
            v, wins, losses, n = verdict(p, c, bound, better)
            pq = quartiles(p)
            cq = quartiles(c)
            print(f"{key[0]:16} {name:28} {pq[1]:10.4f} [{pq[0]:.4f},{pq[2]:.4f}] "
                  f"{cq[1]:10.4f} [{cq[0]:.4f},{cq[2]:.4f}] {wins:3d}/{n:<3d} {v}")


def main():
    if len(sys.argv) == 2:
        summary(load(sys.argv[1]))
    elif len(sys.argv) == 3:
        ab(load(sys.argv[1]), load(sys.argv[2]))
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main()
