#!/usr/bin/env python3
"""Compare two bench headline artifacts on their common keys.

Usage: python3 tools/bench_compare.py <old.json> <new.json> [ratio_flag]

Prints common-key sums, the per-key movers above the flag ratio
(default 1.3), and new/removed keys — the round-over-round summary the
PERF_NOTES band analysis starts from.
"""
import json
import sys


def queries(path):
    """The per-key seconds map of a bench artifact: top-level `queries`
    (bench headline), `parsed.queries` (driver artifact), or a bare map."""
    d = json.load(open(path))
    q = (d.get("parsed") or d).get("queries")
    if q is None and all(isinstance(v, (int, float)) for v in d.values()):
        q = d
    if not isinstance(q, dict):
        sys.exit(f"{path}: no per-query map (a driver artifact whose "
                 "'parsed' is null carries no per-key times)")
    return q


def main():
    old, new = queries(sys.argv[1]), queries(sys.argv[2])
    flag = float(sys.argv[3]) if len(sys.argv) > 3 else 1.3
    common = {k: (old[k], new[k]) for k in new if k in old and old[k] > 0}
    so = sum(a for a, _ in common.values())
    sn = sum(b for _, b in common.values())
    print(f"common keys: {len(common)}  sum {so:.1f} -> {sn:.1f} "
          f"({sn / so:.3f}x)")
    movers = sorted(((k, a, b) for k, (a, b) in common.items()
                     if b > 0.3 and b / a > flag), key=lambda t: -t[2])
    for k, a, b in movers:
        print(f"  mover {k:32s} {a:7.2f} -> {b:7.2f}  {b / a:.2f}x")
    added = {k: v for k, v in new.items() if k not in old}
    if added:
        print(f"new keys: {len(added)}  sum {sum(added.values()):.1f}")
        for k, v in sorted(added.items(), key=lambda kv: -kv[1]):
            print(f"  new   {k:32s} {v:7.2f}")
    removed = [k for k in old if k not in new]
    if removed:
        print("removed:", ", ".join(sorted(removed)))


if __name__ == "__main__":
    main()
