#!/usr/bin/env python3
"""Compare two sets of benchmark results, workload by workload.

    python3 perfbench/compare.py PARENT CHANGE

PARENT and CHANGE are directories (or single files) of result files as
run.py writes them to .bench_build/results/. Runs are paired in seed
order, so run both sides on the same seeds, alternating which side runs
first.

It compares count columns first: for every operation of traced runs
(--trace 1), each count that repeats exactly within both sides, in the
first (cold) pass or in the warm passes, must be equal across them; a
difference is listed as a count change. Then, for
each end-to-end metric of untraced runs, it prints each side's median
and quartiles, the pairs the change wins, loses and ties, and a verdict:

  improved      the change wins at least nine tenths of all pairs and the
                medians differ by more than the parent's quartile distance
  worse         the change's median is worse by more than the metric's
                bound in BENCHMARK.json
  unresolved    neither, and the parent's own spread exceeds the bound
  within bound  otherwise

Exit status is 1 when any metric is worse, else 0.
"""
import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    runs = []
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        if "workload" in r and "metrics" in r:
            runs.append(r)
    return runs


def bounds():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [(m["name"], m["better"], m["bound"]) for m in spec["end_to_end"]]


def main(argv):
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    parent, change = load(argv[0]), load(argv[1])
    worse = False
    for w in sorted({r["workload"] for r in parent + change}):
        print(f"== {w}")
        pt = [r for r in parent if r["workload"] == w and r["trace"] == 1]
        ct = [r for r in change if r["workload"] == w and r["trace"] == 1]
        if pt and ct:
            ps = stats.steady(stats.count_values([r["op_counts"] for r in pt]))
            cs = stats.steady(stats.count_values([r["op_counts"] for r in ct]))
            diffs = [(key, ps[key], cs[key]) for key in sorted(ps)
                     if key in cs and ps[key] != cs[key]]
            print(f"counts: {len(set(ps) & set(cs))} steady on both sides, {len(diffs)} changed")
            for (op, k, phase), a, b in diffs:
                print(f"  count change {op} {k} ({phase} passes): {a} -> {b}")
        else:
            print("counts: no traced runs on both sides")
        pu = sorted((r for r in parent if r["workload"] == w and r["trace"] == 0),
                    key=lambda r: r["seed"])
        cu = sorted((r for r in change if r["workload"] == w and r["trace"] == 0),
                    key=lambda r: r["seed"])
        if not (pu and cu):
            print("timing: no untraced runs on both sides")
            continue
        print(f"timing: {len(pu)} parent runs, {len(cu)} change runs")
        for name, better, bound in bounds():
            p = [r["metrics"][name]["value"] for r in pu]
            c = [r["metrics"][name]["value"] for r in cu]
            p1, pm, p3 = stats.quartiles(p)
            c1, cm, c3 = stats.quartiles(c)
            wins, losses, ties = stats.pair_wins(p, c, better)
            v = stats.verdict(p, c, better, bound)
            worse |= v == "worse"
            print(f"  {name:12s} parent {pm:.4g} [{p1:.4g}, {p3:.4g}]  "
                  f"change {cm:.4g} [{c1:.4g}, {c3:.4g}]  "
                  f"pairs {wins}W/{losses}L/{ties}T  {v}")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
