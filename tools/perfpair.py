#!/usr/bin/env python3
"""Paired A/B runs of the benchmark: a parent revision against this checkout.

    python3 tools/perfpair.py --workload serp_read --seeds 9301-9310 --parent HEAD~1

`git archive`s the parent revision into a temporary directory, then runs
`perfbench/run.py` once per seed on each side, alternating which side runs
first (even pairs: parent first). Both sides run for the `run_seconds` that
BENCHMARK.json fixes. Every run must report `correct` with `failed` 0, or the
script stops with exit code 1. Each run's metrics go to stderr as it ends.

Prints one line per end-to-end metric: each side's median and quartiles, the
change in the median, the pairs the change won (ties count for neither) and a
verdict:

  gain        at least ten pairs ran, the change won at least 9 in 10 of them
              and the medians differ by more than the parent's interquartile
              range;
  worse       the change's median is worse than the parent's by more than
              the metric's bound in BENCHMARK.json;
  unresolved  the wider of the two sides' interquartile ranges exceeds that
              bound, unless every change run reads better than every parent
              run;
  flat        none of the above: no worse than the bound, no claimable gain.

The benchmark files themselves are only run, never written.
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


def seeds_of(spec):
    lo, _, hi = spec.partition("-")
    lo, hi = int(lo), int(hi or lo)
    if hi < lo:
        sys.exit(f"perfpair: empty seed range {spec}")
    return list(range(lo, hi + 1))


def benchmark():
    """([(metric, better, bound)] in BENCHMARK.json order, run seconds)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [(m["name"], m["better"], m["bound"]) for m in spec["end_to_end"]], spec["run_seconds"]


def archive(rev, into):
    git = subprocess.Popen(["git", "-C", ROOT, "archive", rev], stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", into], stdin=git.stdout, check=True)
    if git.wait() != 0:
        sys.exit(f"perfpair: git archive {rev} failed")


def run_once(tree, side, workload, seconds, seed):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.exit(f"perfpair: {side} seed {seed} printed no result (exit {p.returncode})")
    if p.returncode != 0 or not res.get("correct") or res.get("failed", 1) > 0:
        sys.exit(f"perfpair: {side} seed {seed} is not a clean run: exit {p.returncode}, "
                 f"correct={res.get('correct')}, failed={res.get('failed')}")
    vals = {k: v["value"] for k, v in res["metrics"].items()}
    print(f"  {side:6} seed {seed}: " + " ".join(f"{k}={v:.4g}" for k, v in vals.items()),
          file=sys.stderr, flush=True)
    return vals


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def verdict(par, chg, better, bound):
    n = len(par)
    sign = -1.0 if better == "lower" else 1.0
    wins = sum(1 for p, c in zip(par, chg) if sign * (c - p) > 0)
    mp, mc = statistics.median(par), statistics.median(chg)
    q1, q3 = quartiles(par)
    c1, c3 = quartiles(chg)
    dominates = min(sign * c for c in chg) > max(sign * p for p in par)
    if n >= 10 and wins * 10 >= 9 * n and sign * (mc - mp) > q3 - q1:
        word = "gain"
    elif mp != 0 and sign * (mc - mp) / abs(mp) < -bound:
        word = "worse"
    elif mp != 0 and max(q3 - q1, c3 - c1) / abs(mp) > bound and not dominates:
        word = "unresolved"
    else:
        word = "flat"
    return wins, word


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="a seed range, e.g. 9301-9310")
    ap.add_argument("--parent", required=True, help="the git revision to compare against")
    a = ap.parse_args()

    metrics, seconds = benchmark()
    tmp = tempfile.mkdtemp(prefix="perfpair-")
    try:
        parent = os.path.join(tmp, "parent")
        os.makedirs(parent)
        archive(a.parent, parent)
        runs = {"parent": [], "change": []}
        for i, seed in enumerate(seeds_of(a.seeds)):
            sides = [("parent", parent), ("change", ROOT)]
            for side, tree in (sides if i % 2 == 0 else sides[::-1]):
                runs[side].append(run_once(tree, side, a.workload, seconds, seed))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    n = len(runs["parent"])
    print(f"{a.workload}, {n} pairs, parent {a.parent} vs this checkout "
          f"(nproc {os.cpu_count()}): median [q1, q3]")
    for m, better, bound in metrics:
        par = [r[m] for r in runs["parent"]]
        chg = [r[m] for r in runs["change"]]
        wins, word = verdict(par, chg, better, bound)
        mp, mc = statistics.median(par), statistics.median(chg)
        pct = f"{100.0 * (mc - mp) / abs(mp):+.1f}%" if mp else "n/a"
        (p1, p3), (c1, c3) = quartiles(par), quartiles(chg)
        print(f"{m:28} {mp:.4g} [{p1:.4g}, {p3:.4g}] -> {mc:.4g} [{c1:.4g}, {c3:.4g}]  "
              f"{pct:>7}  wins {wins}/{n}  {better} better, bound {bound}  {word}")


if __name__ == "__main__":
    main()
