#!/usr/bin/env python3
"""Compare two sets of benchmark runs, workload by workload.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR

Each directory holds run records (`run-<workload>-seed<n>-trace0.json`, as
run.py leaves them in .bench_out/). Runs pair up by workload and seed; run
the two sides alternately (parent, change, change, parent, ...) with the
same seeds. For every workload and end-to-end metric of BENCHMARK.json it
prints each side's median and quartiles and a verdict:

- improved:   the change wins at least 9 of 10 pairs (ties count for
              neither) and the medians differ by more than the parent's
              interquartile range, in the metric's better direction;
- unresolved: a side's spread (IQR / median) exceeds the metric's bound and
              not every change run beats every parent run;
- worse:      the change's median is worse than the parent's by more than
              the bound;
- unchanged:  otherwise.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d):
    """{workload: {seed: {metric: value}}} from the untraced run records."""
    runs = {}
    for p in sorted(glob.glob(os.path.join(d, "run-*-trace0.json"))):
        with open(p) as f:
            rec = json.load(f)
        env, metrics = rec["env"], rec["result"]["metrics"]
        runs.setdefault(env["workload"], {})[env["seed"]] = {
            k: v["value"] for k, v in metrics.items()}
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def verdict(a, b, lower_better, bound):
    """a, b: values of paired runs, parent and change."""
    def better(x, y):  # x better than y
        return x < y if lower_better else x > y
    (a1, am, a3), (b1, bm, b3) = quartiles(a), quartiles(b)
    decided = [(x, y) for x, y in zip(a, b) if x != y]
    wins = sum(1 for x, y in decided if better(y, x))
    share = wins / len(a) if a else 0.0
    spread = max((a3 - a1) / am if am else 0.0, (b3 - b1) / bm if bm else 0.0)
    every = all(better(y, x) for x in a for y in b)
    if len(a) >= 10 and share >= 0.9 and better(bm, am) and abs(bm - am) > (a3 - a1):
        v = "improved"
    elif spread > bound and not every:
        v = "unresolved"
    elif better(am, bm) and abs(bm - am) > bound * am:
        v = "worse"
    else:
        v = "unchanged"
    return (a1, am, a3), (b1, bm, b3), wins, len(a), spread, v


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    parent, change = load(sys.argv[1]), load(sys.argv[2])
    print(f"{'workload':14} {'metric':18} {'parent q1/med/q3':>28} "
          f"{'change q1/med/q3':>28} {'wins':>7} {'spread':>7}  verdict")
    for w in sorted(set(parent) & set(change)):
        seeds = sorted(set(parent[w]) & set(change[w]))
        for m in spec["end_to_end"]:
            a = [parent[w][s][m["name"]] for s in seeds]
            b = [change[w][s][m["name"]] for s in seeds]
            qa, qb, wins, n, spread, v = verdict(a, b, m["better"] == "lower", m["bound"])
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
            print(f"{w:14} {m['name']:18} {fmt(qa):>28} {fmt(qb):>28} "
                  f"{wins:>3}/{n:<3} {spread:7.3f}  {v} ({m['unit']})")


if __name__ == "__main__":
    main()
