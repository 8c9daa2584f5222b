#!/usr/bin/env python3
"""Run one workload over a range of seeds and record every result.

Usage (from the repository root):

    python3 perfbench/series.py --workload sweep --seeds 1-10 --out runs.jsonl

Each run is `perfbench/run.py --workload W --seed S --seconds <run_seconds>
--trace T`; its result line is appended to --out as
{"workload", "seed", "trace", "result"}. At the end the spread of each
metric is printed: the distance between the first and third quartile as a
share of the median, beside the metric's bound from BENCHMARK.json.
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


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf"), q2


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 1,3,5")
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    values = {}
    for s in seeds(a.seeds):
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(s), "--seconds", str(spec["run_seconds"]),
             "--trace", str(a.trace)],
            cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {s}: run failed ({p.returncode})", file=sys.stderr)
            continue
        wall = time.time() - t0
        res = json.loads(lines[-1])
        with open(a.out, "a") as f:
            f.write(json.dumps({"workload": a.workload, "seed": s, "trace": a.trace,
                                "result": res}) + "\n")
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {s}: wall {wall:.1f} s correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                         if k in bounds), flush=True)
    for k, vs in values.items():
        if k in bounds and len(vs) >= 2:
            sp, med = spread(vs)
            b = bounds[k]
            print(f"{a.workload} {k}: median {med:.6g} spread {sp:.3f} bound {b} "
                  f"({'ok' if sp < b / 3 else 'wide' if sp < b else 'OVER BOUND'})")


if __name__ == "__main__":
    main()
