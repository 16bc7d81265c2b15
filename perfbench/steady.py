#!/usr/bin/env python3
"""Steadiness report: run each workload N times, each with another seed,
and print every end-to-end metric's median, quartiles and spread
(interquartile distance over the median) next to its bound in
BENCHMARK.json.

    python3 perfbench/steady.py [--workloads a,b] [--runs 10] [--seed0 1]

Quartiles are Python's statistics.quantiles(values, n=4). Runs go one
after another; the report also goes to .perfbench/steady-<time>.json.
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


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [w["name"] for w in bench["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default=",".join(names))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {}
    for w in a.workloads.split(","):
        values, shares, walls = {}, set(), []
        for i in range(a.runs):
            seed = a.seed0 + i
            t0 = time.time()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(a.seconds), "--trace", "0"],
                cwd=ROOT, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                stderr=subprocess.DEVNULL, text=True)
            walls.append(time.time() - t0)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{w} seed {seed}: run failed ({proc.returncode})", flush=True)
                continue
            out = json.loads(lines[-1])
            shares.add(out["failed"] / out["attempted"])
            for k, v in out["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{w} seed {seed}: {walls[-1]:.1f} s wall, " + ", ".join(
                f"{k}={v['value']:.3f}" for k, v in sorted(out["metrics"].items())),
                flush=True)
        rows = {}
        for k, vs in sorted(values.items()):
            q1, med, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0],) * 3
            med = statistics.median(vs)
            rows[k] = dict(median=med, q1=q1, q3=q3, spread=(q3 - q1) / med,
                           bound=bounds.get(k), n=len(vs))
        report[w] = dict(metrics=rows, failed_shares=sorted(shares),
                         run_wall_s=dict(median=statistics.median(walls), max=max(walls)))
        print(f"\n== {w}: {len(walls)} runs, wall median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s, failed shares {sorted(shares)}")
        print(f"{'metric':<14}{'median':>11}{'q1':>11}{'q3':>11}{'spread':>9}{'bound':>8}")
        for k, r in rows.items():
            print(f"{k:<14}{r['median']:>11.3f}{r['q1']:>11.3f}{r['q3']:>11.3f}"
                  f"{r['spread']:>9.3f}{r['bound'] or 0:>8.2f}")
        print(flush=True)
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    path = os.path.join(ROOT, ".perfbench", f"steady-{int(time.time())}.json")
    with open(path, "w") as fh:
        json.dump(report, fh, indent=1)
    print(f"report: {path}")


if __name__ == "__main__":
    main()
