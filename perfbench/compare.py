#!/usr/bin/env python3
"""Compare two sets of benchmark runs: a parent commit and a change.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR [--spec BENCHMARK.json]

Each directory holds the standard output of runs of perfbench/run.py, one
file per run (any name). A run's workload comes from its info line. Runs of
the two sides are paired by seed, else by order.

For every workload x metric it prints each side's median and quartiles, the
fraction of pairs the change wins (ties count for neither) and a verdict:

  improved    the change wins at least 9 of 10 pairs and the medians differ
              by more than the parent's own quartile spread
  worse       the change's median is worse than the parent's by more than
              the metric's bound
  unresolved  the parent's spread is wider than the bound, and the runs of
              the two sides overlap
  unchanged   otherwise

Per-layer metrics have no bound; they get improved or unchanged/worse by the
same pair rule. If nearly every end-to-end metric moved the same way, a
uniform-shift warning is printed: this host drifts by more than 1.2x over
hours, so compare only back-to-back runs.
"""
import argparse
import collections
import json
import os
import statistics
import sys


def load(directory):
    """{workload: {seed: {metric: value}}} from every run file under `directory`."""
    runs = collections.defaultdict(dict)
    for name in sorted(os.listdir(directory)):
        path = os.path.join(directory, name)
        if not os.path.isfile(path):
            continue
        objs = []
        for line in open(path, errors="replace"):
            line = line.strip()
            if line.startswith("{"):
                try:
                    objs.append(json.loads(line))
                except ValueError:
                    pass
        if not objs or "metrics" not in objs[-1]:
            continue
        info = next((o["info"] for o in reversed(objs) if "info" in o), {})
        workload = info.get("workload") or name.split("-")[0]
        seed = info.get("seed", len(runs[workload]))
        result = objs[-1]
        if not result.get("correct"):
            print("warning: %s reports correct=false" % path, file=sys.stderr)
        runs[workload][seed] = {k: v["value"] for k, v in result["metrics"].items()
                                if isinstance(v.get("value"), (int, float))}
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def verdict(parent, change, better, bound):
    """(verdict, win fraction, parent spread) for one metric."""
    sign = 1 if better == "higher" else -1
    pq1, pm, pq3 = quartiles(parent)
    cq1, cm, cq3 = quartiles(change)
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    losses = sum(1 for p, c in pairs if sign * (c - p) < 0)
    win = wins / len(pairs) if pairs else 0.0
    spread = (pq3 - pq1) / abs(pm) if pm else 0.0
    rel = sign * (cm - pm) / abs(pm) if pm else 0.0
    all_better = min(sign * c for c in change) > max(sign * p for p in parent)
    all_worse = max(sign * c for c in change) < min(sign * p for p in parent)
    if win >= 0.9 and abs(cm - pm) > (pq3 - pq1):
        return "improved", win, spread
    if bound is not None and spread > bound and not (all_better or all_worse):
        return "unresolved", win, spread
    if bound is not None and rel < -bound:
        return "worse", win, spread
    if bound is None and losses / max(1, len(pairs)) >= 0.9 and abs(cm - pm) > (pq3 - pq1):
        return "worse", win, spread
    return "unchanged", win, spread


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    here = os.path.dirname(os.path.abspath(__file__))
    ap.add_argument("--spec", default=os.path.join(os.path.dirname(here), "BENCHMARK.json"))
    args = ap.parse_args()
    spec = json.load(open(args.spec))
    metrics = {m["name"]: (m["better"], m.get("bound")) for m in spec["end_to_end"] + spec["per_layer"]}
    e2e = {m["name"] for m in spec["end_to_end"]}
    parent, change = load(args.parent), load(args.change)

    shifts = []
    print("%-14s %-34s %12s %23s %12s %23s %5s %7s  %s" % (
        "workload", "metric", "parent", "(q1..q3)", "change", "(q1..q3)", "win", "spread", "verdict"))
    for w in sorted(set(parent) & set(change)):
        seeds = sorted(set(parent[w]) & set(change[w]))
        if seeds:
            p_runs = [parent[w][s] for s in seeds]
            c_runs = [change[w][s] for s in seeds]
        else:
            n = min(len(parent[w]), len(change[w]))
            p_runs = list(parent[w].values())[:n]
            c_runs = list(change[w].values())[:n]
        for name, (better, bound) in metrics.items():
            p = [r[name] for r in p_runs if name in r]
            c = [r[name] for r in c_runs if name in r]
            if not p or not c:
                continue
            v, win, spread = verdict(p, c, better, bound)
            pq1, pm, pq3 = quartiles(p)
            cq1, cm, cq3 = quartiles(c)
            if name in e2e and pm:
                shifts.append((cm - pm) / abs(pm) * (1 if better == "higher" else -1))
            print("%-14s %-34s %12.4g (%10.4g..%10.4g) %12.4g (%10.4g..%10.4g) %5.2f %7.3f  %s" % (
                w, name, pm, pq1, pq3, cm, cq1, cq3, win, spread, v))
    if len(shifts) >= 4:
        up = sum(1 for s in shifts if s > 0.05)
        down = sum(1 for s in shifts if s < -0.05)
        if max(up, down) >= 0.8 * len(shifts):
            print("\nwarning: %d of %d end-to-end metrics moved %s by more than 5%% together; "
                  "this looks like a uniform shift (host drift), not a code effect. "
                  "Re-run parent and change back to back, alternating." % (
                      max(up, down), len(shifts), "better" if up > down else "worse"))


if __name__ == "__main__":
    main()
