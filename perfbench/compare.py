#!/usr/bin/env python3
"""Compare two result sets written by `run.py --out`.

    python3 perfbench/compare.py parent.jsonl change.jsonl

For every workload and end-to-end metric: each side's median and
quartiles, the share of pairs the change won (the i-th run of each
side form a pair, so run the sides alternately), and a verdict against
the metric's bound in BENCHMARK.json. A metric whose spread on either
side exceeds its bound is "unresolved". Per-layer metrics (traced runs)
print as exact differences of the medians.
"""
import json
import os
import sys

import lib


def load(path):
    runs = {}
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            c = r["conditions"]
            runs.setdefault((c["workload"], c["trace"]), []).append(r["result"]["metrics"])
    return runs


def pairs_won(a, b, better):
    """Share of pairs (a[i], b[i]) where b is better; ties count for
    neither side."""
    n = min(len(a), len(b))
    if n == 0:
        return None
    won = sum((y < x) if better == "lower" else (y > x) for x, y in zip(a, b))
    return won / n


def verdict(a, b, better, bound):
    """regressed / improved / same, or unresolved when either side's
    spread is wider than the bound."""
    if lib.spread(a) > bound or lib.spread(b) > bound:
        if better == "lower" and max(b) < min(a) or better == "higher" and min(b) > max(a):
            return "improved"
        return "unresolved"
    ma, mb = lib.median(a), lib.median(b)
    worse = (mb - ma) if better == "lower" else (ma - mb)
    if worse > bound * abs(ma):
        return "regressed"
    q1, _, q3 = lib.quartiles(a)
    if pairs_won(a, b, better) >= 0.9 and -worse > q3 - q1:
        return "improved"
    return "same"


def report(bench, parent, change):
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    lines = []
    for w in [x["name"] for x in bench["workloads"]]:
        a, b = parent.get((w, 0), []), change.get((w, 0), [])
        if a and b:
            lines.append(f"== {w}: {len(a)} parent runs, {len(b)} change runs")
            lines.append(f"{'metric':16} {'parent q1/med/q3':>30} {'change q1/med/q3':>30}"
                         f" {'won':>5}  verdict")
            for name, m in e2e.items():
                xa = [r[name]["value"] for r in a if name in r]
                xb = [r[name]["value"] for r in b if name in r]
                if not xa or not xb:
                    continue
                qa, qb = lib.quartiles(xa), lib.quartiles(xb)
                lines.append(
                    f"{name:16} {'/'.join(f'{v:.4g}' for v in qa):>30} "
                    f"{'/'.join(f'{v:.4g}' for v in qb):>30} "
                    f"{pairs_won(xa, xb, m['better']):5.2f}  "
                    f"{verdict(xa, xb, m['better'], m['bound'])}")
        ta, tb = parent.get((w, 1), []), change.get((w, 1), [])
        if ta and tb:
            lines.append(f"-- {w} per layer (median of traced runs; change - parent)")
            for name in ta[0]:
                if name in tb[0]:
                    ma = lib.median([r[name]["value"] for r in ta])
                    mb = lib.median([r[name]["value"] for r in tb])
                    lines.append(f"{name:44} {ma:14.4f} {mb:14.4f} {mb - ma:+14.4f}"
                                 f"  {ta[0][name]['unit']}")
    return "\n".join(lines)


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        bench = json.load(f)
    print(report(bench, load(sys.argv[1]), load(sys.argv[2])))


if __name__ == "__main__":
    main()
