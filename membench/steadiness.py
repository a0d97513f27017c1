#!/usr/bin/env python3
"""Run each workload K times and report how steady every metric is.

    python3 membench/steadiness.py --runs 10 [--workload serve_mixed ...]

Run from the root of a source checkout. Runs are untraced; run i of every
workload (i = 1..K) uses seed i. For every metric it prints the median, the quartiles (as
Python's statistics.quantiles(n=4) gives them), the spread
(Q3 - Q1) / median, and for end-to-end metrics the bound from
BENCHMARK.json with the share of it the spread uses. Each run's line also
shows the CPU time the host stole from the run (recorded only). Exits
non-zero when a run fails.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
STEAL = re.compile(r"steal ([0-9.]+) s")


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workload", action="append",
                    choices=[w["name"] for w in spec["workloads"]])
    a = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    ok = True
    for wl in a.workload or [w["name"] for w in spec["workloads"]]:
        values = {}
        for seed in range(1, a.runs + 1):
            cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", wl,
                   "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                   "--trace", "0"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{wl} seed {seed}: run failed (exit {p.returncode})\n{p.stderr[-2000:]}")
                ok = False
                continue
            res = json.loads(lines[-1])
            steal = next((m.group(1) for m in map(STEAL.search, lines) if m), "?")
            print(f"{wl} seed {seed}: attempted {res['attempted']} failed {res['failed']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
                  + f" (host steal {steal} s)", flush=True)
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        print(f"\n{wl}: {a.runs} runs, seeds 1..{a.runs}")
        print(f"  {'metric':<44} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6} {'use':>5}")
        for k, vs in values.items():
            if len(vs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            b = bounds.get(k)
            use = f"{spread / b:5.2f}" if b else ""
            print(f"  {k:<44} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.4f} "
                  f"{b if b else '':>6} {use}")
        print(flush=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
