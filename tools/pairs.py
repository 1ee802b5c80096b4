#!/usr/bin/env python3
"""Paired parent/change benchmark runs.

Runs `perfbench/run.py` alternately in two checkouts of the repository
(the parent commit and the change, e.g. made with `git worktree add` or
`git archive`), with identical arguments and one fresh seed per pair,
then prints for each end-to-end metric both sides' median and quartiles,
the pairs the change won, and whether the gain rule holds: the change
wins at least nine tenths of the pairs (ties count for neither side)
and the medians differ by more than the parent's interquartile range.

    python3 tools/pairs.py --parent ../parent --change . \
        --workload dml_stream --pairs 10 --seed0 9001 --seconds 25

Pair i uses seed `seed0 + i`; even pairs run the parent first, odd
pairs the change first. A run that fails, reports `correct: false` or
counts failed executions stops the comparison. Every run's metrics go
to `--out` as JSON lines. This script only invokes `perfbench/run.py`.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

METRICS = ("setup_s", "pass_s", "query_p50_s")  # all lower-is-better


def run_once(checkout, workload, seed, seconds, trace):
    """One `perfbench/run.py` invocation; its final JSON line."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    if out.returncode != 0:
        sys.exit(f"{checkout}: run.py exited {out.returncode}\n{out.stderr[-2000:]}")
    result = next((json.loads(l) for l in reversed(out.stdout.splitlines())
                   if l.startswith("{")), None)
    if result is None:
        sys.exit(f"{checkout}: no result line\n{out.stdout[-2000:]}")
    if not result.get("correct") or result.get("failed", 0) != 0:
        sys.exit(f"{checkout}: seed {seed} failed {result.get('failed')} "
                 f"of {result.get('attempted')}")
    return result


def quartiles(xs):
    """(q1, median, q3) by the inclusive method."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def verdict(parent, change):
    """Pairs won by the change, pairs won by the parent, and the rule."""
    wins = sum(c < p for p, c in zip(parent, change))
    losses = sum(c > p for p, c in zip(parent, change))
    pq1, pmed, pq3 = quartiles(parent)
    _, cmed, _ = quartiles(change)
    holds = wins >= 0.9 * len(parent) and pmed - cmed > pq3 - pq1
    return wins, losses, holds


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, required=True,
                    help="pair i runs seed seed0 + i on both sides")
    ap.add_argument("--seconds", type=float, default=25)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out", default=None, help="JSON lines of every run")
    a = ap.parse_args()
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    values = {s: {m: [] for m in METRICS} for s in sides}
    log = open(a.out, "a") if a.out else None
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        row = {}
        for side in order:
            r = run_once(sides[side], a.workload, seed, a.seconds, a.trace)
            row[side] = {m: r["metrics"][m]["value"] for m in METRICS}
            for m in METRICS:
                values[side][m].append(row[side][m])
            if log:
                log.write(json.dumps({"pair": i, "seed": seed, "side": side,
                                      "workload": a.workload, **r}) + "\n")
                log.flush()
        print(f"pair {i} seed {seed} first={order[0]} " + " ".join(
            f"{m} {row['parent'][m]:.3f}->{row['change'][m]:.3f}" for m in METRICS),
            flush=True)
    n = a.pairs
    print(f"\n{a.workload}: {n} pairs, --seconds {a.seconds} --trace {a.trace}")
    print(f"{'metric':12s} {'parent q1/med/q3':>26s} {'change q1/med/q3':>26s}"
          f" {'won':>7s} {'lost':>5s}  rule")
    for m in METRICS:
        p, c = values["parent"][m], values["change"][m]
        wins, losses, holds = verdict(p, c)
        fmt = lambda q: "/".join(f"{x:.3f}" for x in q)
        print(f"{m:12s} {fmt(quartiles(p)):>26s} {fmt(quartiles(c)):>26s}"
              f" {wins:>3d}/{n:<3d} {losses:>5d}  {'holds' if holds else 'not met'}")


if __name__ == "__main__":
    main()
