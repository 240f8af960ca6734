#!/usr/bin/env python3
"""Runs each workload repeatedly and prints every metric's spread.

For each workload, runs run.py --runs times with seeds 1..runs and prints,
per end-to-end metric, the median, the quartile spread
((Q3 - Q1) / median, as statistics.quantiles(values, n=4) gives them) and
whether that spread is within a third of the metric's bound in
BENCHMARK.json. `--trace 1` does the same for the per-layer metrics
(which have no bound). Per-run results are kept under
<build_dir>/results/.

Usage (from the root of a checkout):
  python3 perfbench/selfcheck.py [--runs 10] [--workloads a,b] [--trace 0|1]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    bench = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    ok_all = True
    for wl in a.workloads.split(","):
        values = {}
        for seed in range(a.first_seed, a.first_seed + a.runs):
            t0 = time.monotonic()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                                "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                                "--trace", str(a.trace)],
                               stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            if p.returncode != 0:
                print(f"{wl} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
                ok_all = False
                continue
            res = json.loads(p.stdout.strip().splitlines()[-1])
            run = json.loads(p.stderr.strip().splitlines()[-1])
            if not res["correct"]:
                ok_all = False
            print(f"{wl} seed {seed}: correct={res['correct']} attempted={res['attempted']} "
                  f"failed={res['failed']} steal={run['cpu_steal_share']} "
                  f"wall={time.monotonic() - t0:.1f}s " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                           if k in bounds), flush=True)
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        print(f"== {wl}: {len(next(iter(values.values()), []))} runs")
        for k, xs in values.items():
            if len(xs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med if med else float("nan")
            b = bounds.get(k)
            flag = "" if b is None else ("ok" if spread <= b / 3 else "WIDE") + f" (bound {b})"
            if b is not None and spread > b / 3:
                ok_all = False
            print(f"  {k:40s} median {med:12.5g}  spread {spread:7.4f}  {flag}")
    sys.exit(0 if ok_all else 1)


if __name__ == "__main__":
    main()
