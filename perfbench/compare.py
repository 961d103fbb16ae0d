#!/usr/bin/env python3
"""Compare two sets of benchmark runs: a parent commit and a change.

    python3 perfbench/compare.py RUNS/parent RUNS/change

Each directory holds one `<workload>.jsonl` per workload, one result
line per run as `run.py` prints it (`sweep.py` writes them, pairing the
i-th run of each side on one seed). For every workload and end-to-end
metric in BENCHMARK.json it prints one row:

- each side's median and quartiles (`statistics.quantiles`, n=4) and
  the change's median as a share of the parent's;
- pair wins: pairs where the change reads better / worse (ties count
  for neither);
- a verdict, in this order:
  - `REGRESSION`: the change's median is worse than the parent's by
    more than the metric's bound;
  - `unresolved`: either side's quartile spread, as a share of its
    median, exceeds the bound, and not every change run beats every
    parent run;
  - `gain`: the change wins at least 9/10 of the pairs and the medians
    differ by more than the parent's quartile spread;
  - `within bound` otherwise.

A final row per workload compares failed operations; a gain does not
count on a side with more failures. Exit status is 1 if any row reads
REGRESSION or the change fails more operations, else 0.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d, workload):
    path = os.path.join(d, workload + ".jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def row(metric, parent, change):
    """The comparison of one metric over paired runs (values lists)."""
    lower = metric["better"] == "lower"
    bound = metric["bound"]
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    better = (lambda c, p: c < p) if lower else (lambda c, p: c > p)
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if better(c, p))
    losses = sum(1 for p, c in pairs if better(p, c))
    worse_by = ((cm - pm) if lower else (pm - cm)) / pm if pm else 0.0
    spread = max((p3 - p1) / pm if pm else 0.0, (c3 - c1) / cm if cm else 0.0)
    all_better = all(better(c, p) for c in change for p in parent)
    if worse_by > bound:
        verdict = "REGRESSION"
    elif spread > bound and not all_better:
        verdict = "unresolved"
    elif pairs and wins >= 0.9 * len(pairs) and abs(cm - pm) > (p3 - p1):
        verdict = "gain"
    else:
        verdict = "within bound"
    return {"parent": (pm, p1, p3), "change": (cm, c1, c3),
            "ratio": cm / pm if pm else float("nan"), "wins": wins,
            "losses": losses, "pairs": len(pairs), "spread": spread,
            "verdict": verdict}


def main(parent_dir, change_dir):
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    bad = False
    print("%-12s %-16s %28s %28s %7s %9s %7s  %s" % (
        "workload", "metric", "parent median [q1, q3]", "change median [q1, q3]",
        "ratio", "wins/n", "spread", "verdict"))
    for w in spec["workloads"]:
        ps, cs = load(parent_dir, w["name"]), load(change_dir, w["name"])
        n = min(len(ps), len(cs))
        if n == 0:
            print("%-12s no runs on one side" % w["name"])
            continue
        ps, cs = ps[:n], cs[:n]
        for m in spec["end_to_end"]:
            r = row(m, [x["metrics"][m["name"]]["value"] for x in ps],
                    [x["metrics"][m["name"]]["value"] for x in cs])
            bad |= r["verdict"] == "REGRESSION"
            print("%-12s %-16s %10.4g [%7.4g, %7.4g] %10.4g [%7.4g, %7.4g] %7.3f %4d/%-4d %6.1f%%  %s (bound %g%%)" % (
                w["name"], m["name"], *r["parent"], *r["change"], r["ratio"],
                r["wins"], r["pairs"], 100 * r["spread"], r["verdict"], 100 * m["bound"]))
        pf = sum(x["failed"] for x in ps)
        cf = sum(x["failed"] for x in cs)
        bad |= cf > pf
        print("%-12s %-16s parent %d failed of %d, change %d failed of %d%s" % (
            w["name"], "failed ops", pf, sum(x["attempted"] for x in ps), cf,
            sum(x["attempted"] for x in cs), "  MORE FAILURES" if cf > pf else ""))
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
