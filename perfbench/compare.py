#!/usr/bin/env python3
"""Compare two sets of benchmark runs, per workload and per metric.

    python3 perfbench/compare.py BASE_RESULTS CHANGE_RESULTS

Each argument is a directory of run artifacts (what `run.py` leaves in
perfbench/target/results/) or a single artifact file. Untraced runs give
the end-to-end rows; traced runs, when present, add the tracing overhead.
For every workload and end-to-end metric of BENCHMARK.json it prints each
side's median and quartiles, the pairs the change won (runs paired by
seed where both sides have it, else in order), the host steal recorded in
each set, and a verdict:

- better: the change won at least 9 in 10 pairs and its median moved by
  more than the base's own interquartile distance;
- worse: the change's median is worse than the base's by more than the
  metric's bound;
- unresolved: either side's spread (interquartile distance over median)
  is wider than the bound, and not every change run beats every base run;
- same: none of the above.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    runs = []
    for f in files:
        with open(f) as fh:
            runs.append(json.load(fh))
    return runs


def verdict(base, change, better, bound):
    """(verdict, pairs won, pairs) for two lists of (seed, value)."""
    sign = 1.0 if better == "higher" else -1.0
    won = lambda c, b: sign * (c - b) > 0
    bmap, cmap = dict(base), dict(change)
    common = sorted(set(bmap) & set(cmap))
    pairs = ([(cmap[s], bmap[s]) for s in common] if common else
             list(zip([v for _, v in change], [v for _, v in base])))
    wins = sum(1 for c, b in pairs if won(c, b))
    ties = sum(1 for c, b in pairs if c == b)
    bv, cv = [v for _, v in base], [v for _, v in change]
    bq1, bmed, bq3 = stats.quartiles(bv)
    _, cmed, _ = stats.quartiles(cv)
    decided = len(pairs) - ties
    if decided and wins >= 0.9 * decided and abs(cmed - bmed) > bq3 - bq1:
        return "better", wins, len(pairs)
    if sign * (cmed - bmed) < -bound * abs(bmed):
        return "worse", wins, len(pairs)
    if max(stats.spread(bv), stats.spread(cv)) > bound and \
            not all(won(c, b) for c in cv for b in bv):
        return "unresolved", wins, len(pairs)
    return "same", wins, len(pairs)


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    base, change = load(sys.argv[1]), load(sys.argv[2])
    for w in [x["name"] for x in bench["workloads"]]:
        b = [r for r in base if r["workload"] == w and r["trace"] == 0]
        c = [r for r in change if r["workload"] == w and r["trace"] == 0]
        if not b or not c:
            print(f"{w}: no runs on {'base' if not b else 'change'} side")
            continue
        steal = lambda rs: statistics.median(r["env"][0]["steal_s"] for r in rs)
        print(f"{w}: base {len(b)} runs (median steal {steal(b):.2f} s), "
              f"change {len(c)} runs (median steal {steal(c):.2f} s)")
        for m in bench["end_to_end"]:
            bv = [(r["seed"], r["end_to_end"][m["name"]]) for r in b]
            cv = [(r["seed"], r["end_to_end"][m["name"]]) for r in c]
            v, wins, n = verdict(bv, cv, m["better"], m["bound"])
            bq, cq = stats.quartiles([x for _, x in bv]), stats.quartiles([x for _, x in cv])
            print(f"  {m['name']:<18} base {bq[1]:.4g} [{bq[0]:.4g}, {bq[2]:.4g}]  "
                  f"change {cq[1]:.4g} [{cq[0]:.4g}, {cq[2]:.4g}] {m['unit']}  "
                  f"won {wins}/{n}  {v}")
        for side, rs in (("base", base), ("change", change)):
            t = [r["result"]["metrics"]["trace.overhead_pct"]["value"]
                 for r in rs if r["workload"] == w and r["trace"] == 1]
            if t:
                print(f"  tracing overhead ({side}): median {statistics.median(t):.1f} % "
                      f"over {len(t)} traced runs")


if __name__ == "__main__":
    main()
