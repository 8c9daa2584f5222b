#!/usr/bin/env python3
"""Compare two sets of benchmark runs, one verdict per workload and metric.

Usage (from the repository root):

    python3 perfbench/compare.py BASE.jsonl NEW.jsonl

Each file holds result records as perfbench/series.py writes them. For every
workload and end-to-end metric it prints both sides' median and quartiles,
the pairs (runs of the same seed) the new side won, and a verdict against the
metric's bound in BENCHMARK.json:

- improved: the new side won at least 9 in 10 pairs (ties count for neither)
  and the medians differ by more than the base side's own quartile spread;
- no worse: the new median is not worse than the base median by more than the
  bound, and both sides' spreads are within the bound;
- unresolved: a spread is wider than the bound, unless every new run beats
  every base run;
- worse: the new median is worse than the base median by more than the bound.
"""
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path):
    runs = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                if r.get("trace", 0) == 0:
                    runs.setdefault(r["workload"], {})[r["seed"]] = r["result"]["metrics"]
    return runs


def quartiles(vs):
    if len(vs) == 1:
        return vs[0], vs[0], vs[0]
    return tuple(statistics.quantiles(vs, n=4))


def verdict(base, new, better, bound, pairs):
    """The verdict for one metric; `base`/`new` are value lists, `pairs`
    (base, new) values of equal seeds."""
    sign = 1 if better == "higher" else -1
    b1, bm, b3 = quartiles(base)
    n1, nm, n3 = quartiles(new)
    wins = sum(1 for b, n in pairs if sign * (n - b) > 0)
    losses = sum(1 for b, n in pairs if sign * (n - b) < 0)
    gain = sign * (nm - bm)
    if pairs and wins >= 0.9 * len(pairs) and gain > (b3 - b1):
        v = "improved"
    elif -gain > bound * abs(bm):
        v = "worse"
    elif (b3 - b1) > bound * abs(bm) or (n3 - n1) > bound * abs(nm):
        all_better = min(sign * n for n in new) > max(sign * b for b in base)
        v = "no worse" if all_better else "unresolved"
    else:
        v = "no worse"
    return v, (b1, bm, b3), (n1, nm, n3), wins, losses


def main(base_path, new_path):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    base, new = load(base_path), load(new_path)
    print(f"{'workload':10} {'metric':14} {'base q1/med/q3':>30} {'new q1/med/q3':>30} "
          f"{'won':>7}  verdict")
    for w in spec["workloads"]:
        name = w["name"]
        if name not in base or name not in new:
            print(f"{name:10} (no runs on {'base' if name not in base else 'new'} side)")
            continue
        for m in spec["end_to_end"]:
            k = m["name"]
            bs = {s: r[k]["value"] for s, r in base[name].items() if k in r}
            ns = {s: r[k]["value"] for s, r in new[name].items() if k in r}
            if not bs or not ns:
                continue
            pairs = [(bs[s], ns[s]) for s in sorted(set(bs) & set(ns))]
            v, bq, nq, wins, losses = verdict(list(bs.values()), list(ns.values()),
                                              m["better"], m["bound"], pairs)
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
            print(f"{name:10} {k:14} {fmt(bq):>30} {fmt(nq):>30} "
                  f"{wins:>3}/{len(pairs):<3}  {v}")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
