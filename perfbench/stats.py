"""Statistics shared by the benchmark, its compare tool and its tests."""
import math
import statistics

# per-operation counts that the compare tool and the steadiness report
# match exactly
COUNT_COLUMNS = ("build_jobs", "jobs", "stages", "tasks", "plan_chars", "plan_rewrites",
                 "shuffle_read_mb", "shuffle_write_mb", "records_written")


def median(values):
    return statistics.median(values)


def quartiles(values):
    """First quartile, median and third quartile, as Python's
    statistics.quantiles(values, n=4) gives them (one value: itself)."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Distance between the quartiles as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else math.inf


def tail(values, beyond=10):
    """The highest percentile with at least `beyond` samples above it.

    Returns (value, percentile, sample count). With n samples sorted
    ascending, the value at 0-based rank k has n - 1 - k samples above
    it, so the rank is n - 1 - beyond and the percentile 100 * k / n.
    With `beyond` samples or fewer there is no such percentile, and the
    median stands in for it.
    """
    xs = sorted(values)
    n = len(xs)
    if n <= beyond:
        return median(xs), 50.0, n
    k = n - 1 - beyond
    return xs[k], 100.0 * k / n, n


def pair_wins(parent, change, better):
    """Pairs (i-th run of each side) the change wins, loses and ties."""
    wins = losses = ties = 0
    for p, c in zip(parent, change):
        if p == c:
            ties += 1
        elif (c < p) == (better == "lower"):
            wins += 1
        else:
            losses += 1
    return wins, losses, ties


def verdict(parent, change, better, bound):
    """The rule for claiming a gain or a regression on one metric.

    improved: the change wins at least nine tenths of all pairs (ties
      count for neither) and the medians differ, in the better
      direction, by more than the parent's own quartile distance.
    worse: the change's median is worse than the parent's by more than
      `bound` (a share of the parent's median).
    unresolved: neither, and the parent's own spread is wider than the
      bound, unless every change run reads better than every parent run.
    within bound: otherwise.
    """
    wins, _, _ = pair_wins(parent, change, better)
    pairs = min(len(parent), len(change))
    p1, pm, p3 = quartiles(parent)
    cm = median(change)
    gain = (pm - cm) if better == "lower" else (cm - pm)
    if pairs and wins >= 0.9 * pairs and gain > (p3 - p1):
        return "improved"
    if -gain > bound * abs(pm):
        return "worse"
    all_better = (max(change) < min(parent)) if better == "lower" else (min(change) > max(parent))
    if spread(parent) > bound and not all_better:
        return "unresolved"
    return "within bound"


def self_times(spans):
    """Self time of each span: its duration minus the part of its
    interval that its children cover. Returns {span id: seconds}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_us"], s["end_us"]
        ivs = sorted((max(lo, c["start_us"]), min(hi, c["end_us"]))
                     for c in children.get(s["id"], []))
        covered, cur_lo, cur_hi = 0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = max(0, hi - lo - covered) / 1e6
    return out


def count_values(op_counts):
    """The values each per-operation count takes over traced passes.

    `op_counts` is a sequence of runs, each {pass index: {op: {column:
    value}}} as a traced result holds them. Returns {(op, column):
    {"cold": set, "warm": set}}: "cold" gathers each run's first pass
    (index 0), which may build one-time state, "warm" every later one.
    """
    seen = {}
    for run in op_counts:
        for p, ops in run.items():
            phase = "cold" if int(p) == 0 else "warm"
            for op, row in ops.items():
                for k in COUNT_COLUMNS:
                    v = seen.setdefault((op, k), {"cold": set(), "warm": set()})
                    v[phase].add(row.get(k, 0))
    return seen


def unsteady(values):
    """The (op, column) keys of count_values() that take more than one value."""
    return sorted(k for k, v in values.items() if len(v["cold"] | v["warm"]) > 1)


def steady(values):
    """{(op, column, phase): value} for every count that takes exactly one
    value in that phase."""
    return {(*k, phase): next(iter(vals)) for k, v in values.items()
            for phase, vals in v.items() if len(vals) == 1}
