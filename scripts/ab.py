#!/usr/bin/env python3
"""A/B the benchmark: this checkout against a parent revision, in pairs.

    python3 scripts/ab.py <parent-rev> --workload serve_mixed --pairs 10 --first-seed 11

The parent revision is extracted with `git archive` into `<workdir>/parent`
(replacing an earlier extraction there; --workdir defaults to a new
temporary directory) and both sides run `membench/run.py` untraced from
their own root: the change side is this checkout's working tree. Pair i runs seed first-seed + i on both sides, and
the side that runs first alternates from pair to pair (the parent first in
even pairs), so a drift in host speed falls on both sides alike.

For every end-to-end metric of BENCHMARK.json the script prints each side's
median and quartiles, how many pairs each side won (by the metric's
`better` direction; a tie counts for neither), the change of the median
against the parent's, and whether that change is outside the parent's
interquartile range and within the metric's `bound`. It also prints each
side's count of runs that were not `correct` and its `failed` operations.
Nothing is written under membench/ by this script; the runs themselves
keep membench/run.py's own build cache in each side's membench/target.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_side(root, workload, seed, seconds):
    """One untraced benchmark run; returns its JSON result line as a dict."""
    p = subprocess.run(
        [sys.executable, "membench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"ab: no result from {root} (seed {seed}, exit {p.returncode})")
    res = json.loads(lines[-1])
    res["exit"] = p.returncode
    return res


def metric(res, name):
    """A run's value of one metric, None when the run did not report it."""
    m = res.get("metrics", {}).get(name)
    return m.get("value") if isinstance(m, dict) else m


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent", help="git revision of the parent side")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--first-seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=None,
                    help="run length (default: BENCHMARK.json run_seconds)")
    ap.add_argument("--workdir", default=None,
                    help="where to extract the parent (default: a new temp dir)")
    ap.add_argument("--json", default=None,
                    help="also write every run's result to this file")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    e2e = spec["end_to_end"]

    base = args.workdir or tempfile.mkdtemp(prefix="ab-")
    parent_root = os.path.join(base, "parent")
    if os.path.exists(parent_root):
        shutil.rmtree(parent_root)
    os.makedirs(parent_root)
    archive = subprocess.run(["git", "archive", args.parent], cwd=ROOT,
                             stdout=subprocess.PIPE, check=True).stdout
    subprocess.run(["tar", "-x", "-C", parent_root], input=archive, check=True)

    sides = {"parent": parent_root, "change": ROOT}
    runs = {"parent": [], "change": []}
    for i in range(args.pairs):
        seed = args.first_seed + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            res = run_side(sides[side], args.workload, seed, seconds)
            res["seed"] = seed
            runs[side].append(res)
            print(f"pair {i + 1}/{args.pairs} seed {seed} {side}: "
                  f"correct={res.get('correct')} failed={res.get('failed')} "
                  + " ".join(f"{x['name']}={metric(res, x['name'])}" for x in e2e),
                  flush=True)

    print(f"\n{args.workload}, {args.pairs} pairs, seeds {args.first_seed}.."
          f"{args.first_seed + args.pairs - 1}, parent {args.parent}")
    for side in ("parent", "change"):
        bad = sum(1 for r in runs[side] if not r.get("correct"))
        failed = sum(r.get("failed", 0) or 0 for r in runs[side])
        print(f"  {side}: {bad} run(s) not correct, {failed} failed operation(s)")
    print(f"  {'metric':<16} {'better':<7} {'parent q1/med/q3':<26} "
          f"{'change q1/med/q3':<26} {'wins p:c':<9} {'d med':>8}  verdict")
    for x in e2e:
        name, better, bound = x["name"], x["better"], x["bound"]
        pv = [metric(r, name) for r in runs["parent"]]
        cv = [metric(r, name) for r in runs["change"]]
        pairs = [(p, c) for p, c in zip(pv, cv) if p is not None and c is not None]
        if not pairs:
            print(f"  {name:<16} (not reported)")
            continue
        ps, cs = [p for p, _ in pairs], [c for _, c in pairs]
        sign = 1 if better == "higher" else -1
        cwins = sum(1 for p, c in pairs if sign * (c - p) > 0)
        pwins = sum(1 for p, c in pairs if sign * (p - c) > 0)
        pq, cq = quartiles(ps), quartiles(cs)
        rel = (cq[1] - pq[1]) / pq[1] if pq[1] else 0.0
        worse = -sign * rel
        verdict = []
        verdict.append("outside parent IQR" if abs(cq[1] - pq[1]) > pq[2] - pq[0]
                       else "inside parent IQR")
        verdict.append(f"worse than bound {bound:.0%}" if worse > bound
                       else "within bound")
        fmt = lambda q: f"{q[0]:.4g}/{q[1]:.4g}/{q[2]:.4g}"
        print(f"  {name:<16} {better:<7} {fmt(pq):<26} {fmt(cq):<26} "
              f"{pwins}:{cwins:<7} {rel:>+8.1%}  {', '.join(verdict)}")

    if args.json:
        with open(args.json, "w") as f:
            json.dump({"parent": args.parent, "workload": args.workload,
                       "runs": runs}, f, indent=1)


if __name__ == "__main__":
    main()
