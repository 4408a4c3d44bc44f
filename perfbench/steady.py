#!/usr/bin/env python3
"""Steadiness check: repeat workloads over several seeds and print, per
metric, the median, the quartiles and the spread (interquartile range as
a share of the median, from `statistics.quantiles(values, n=4)`), next to
the bound `BENCHMARK.json` sets for it.

    python3 perfbench/steady.py --runs 10 [--workloads batch_mix,live_tail]
        [--trace 0]

Run from the root of a checkout; each run is `perfbench/run.py` with its
own seed and the run length `BENCHMARK.json` names.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads")
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    if a.workloads:
        names = a.workloads.split(",")
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    for w in names:
        runs = []
        for seed in range(1, a.runs + 1):
            out = subprocess.run(
                bench["command"] + ["--workload", w, "--seed", str(seed),
                                    "--seconds", str(bench["run_seconds"]),
                                    "--trace", str(a.trace)],
                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            if out.returncode != 0:
                sys.exit(f"{w} seed {seed}: exit {out.returncode}")
            r = json.loads(out.stdout.strip().splitlines()[-1])
            runs.append(r)
            print(f"{w} seed {seed}: " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
        shares = {r["failed"] / r["attempted"] for r in runs}
        print(f"\n{w}: {len(runs)} runs, correct={all(r['correct'] for r in runs)}, "
              f"attempted={sorted({r['attempted'] for r in runs})}, failed share={sorted(shares)}")
        print(f"  {'metric':34} {'median':>10} {'q1':>10} {'q3':>10} {'spread':>7} {'bound':>6}")
        for k in runs[0]["metrics"]:
            vals = [r["metrics"][k]["value"] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else 0.0
            b = bounds.get(k)
            flag = " !" if b is not None and k != "setup_s" and spread > b / 3 else ""
            print(f"  {k:34} {med:10.4g} {q1:10.4g} {q3:10.4g} {spread:7.3f} "
                  f"{'' if b is None else b:>6}{flag}")
        print(flush=True)


if __name__ == "__main__":
    main()
