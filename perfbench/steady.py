#!/usr/bin/env python3
"""Steadiness report: which per-operation counts repeat between traced runs.

    python3 perfbench/steady.py RESULTS...

RESULTS are traced result files (run.py --trace 1) or directories of
them. For every workload and operation it gathers each count column
over every traced pass of every run, and lists the ones that take more
than one value. A count that repeats exactly may carry a claim; one
listed here may not. Differences seen only in a run's first (cold)
pass are marked, since the first pass may build one-time state.
"""
import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def main(argv):
    files = []
    for a in argv:
        files += sorted(glob.glob(os.path.join(a, "*.json"))) if os.path.isdir(a) else [a]
    runs = {}
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        if r.get("trace") == 1:
            runs.setdefault(r["workload"], []).append(r["op_counts"])
    if not runs:
        print("no traced result files", file=sys.stderr)
        return 2
    for w, op_counts in sorted(runs.items()):
        values = stats.count_values(op_counts)
        unsteady = stats.unsteady(values)
        print(f"== {w}: {len(op_counts)} traced runs, {len(values)} counts, "
              f"{len(values) - len(unsteady)} repeat exactly")
        for key in unsteady:
            warm, cold = sorted(values[key]["warm"]), sorted(values[key]["cold"])
            where = "first pass only" if len(warm) == 1 else "warm passes"
            print(f"  {key[0]} {key[1]}: warm {warm} first {cold} ({where})")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
